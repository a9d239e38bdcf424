package graft.ops

import graft.Scratch
import graft.Tables._
import graft.ops.Llm.{dot, norm, duckCosOf}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data pipeline assembly operators (SURVEY.md §2b north-star
  * extension): deterministic corpus sampling, dataset mixture
  * weighting, context-window sequence packing, vocabulary building,
  * IVF-style ANN, and the SQL-registry surface.
  *
  * Determinism discipline: every sampling decision is a pure function
  * of the row (md5-derived bucket), never an RNG — reruns, retries, and
  * the DuckDB oracle all see the identical sample. At 100 TB this also
  * means a resumed job re-selects exactly the same rows with no
  * sampling state to persist.
  */
object Pipeline {

  /** Deterministic per-row sample bucket in [0, 10000): first 8 hex
    * chars of md5(doc_id) → integer, mod 10000 (basis points). Portable
    * bit-for-bit to the oracle (md5 is md5 in every engine). */
  private def hashBucket(c: Column): Column =
    pmod(conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(10000L))

  /** DuckDB twin of [[hashBucket]]. */
  private def duckBucket(c: String): String =
    s"(('0x' || substr(md5($c::VARCHAR), 1, 8))::BIGINT % 10000)"

  /** Uniform 10% corpus sample — hash-Bernoulli, no RNG: the sample is
    * a pure row property, so it is reproducible across runs/engines and
    * needs no coordination between executors (each row decides alone —
    * embarrassingly parallel at any scale; the filter is codegen'd into
    * the scan). */
  private def sampleHash: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        hashBucket(col("doc_id")).as("bucket"))
      .where(col("bucket") < 1000)
      .orderBy("doc_id")

  /** Stratified sampling: per-language target rates (basis points) —
    * downsample dominant strata, keep rare ones (the corpus-balancing
    * pass before training). One scan, no join: the rate map rides as a
    * literal CASE, the decision is per-row. Audit output: per-stratum
    * totals and kept counts. */
  private def sampleStratified: Q = (s, d) => {
    val rate = when(col("lang") === "en", 1000L)
      .when(col("lang") === "es", 2500L)
      .when(col("lang") === "de", 2500L)
      .when(col("lang") === "fr", 5000L)
      .otherwise(5000L)
    t(s, d, "documents")
      .select(col("lang"), hashBucket(col("doc_id")).as("bucket"),
        rate.as("rate_bp"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("bucket") < col("rate_bp"), 1L).otherwise(0L)).as("n_kept"),
        max(col("rate_bp")).as("rate_bp"))
      .orderBy("lang")
  }

  /** EXACT k-per-group sample as a bounded aggregate — priority
    * sampling, the deterministic reservoir: each row's priority is a
    * 52-bit md5 prefix (exact in a double, so the native buffer and
    * the oracle's BIGINT order identically), and the k highest-priority
    * rows per language win through [[graft.expr.TopKAgg]]'s k-bounded
    * buffer. Map-side combinable: each input partition forwards at most
    * k pairs per group, no group is ever materialized or sorted — the
    * window formulation (`row_number() <= k`) shuffles and sorts the
    * ENTIRE corpus to discard all but k·groups rows. This is how you
    * pull a fixed-size per-stratum eval slice from 100 TB: one pass,
    * O(k·groups) state, and re-runs select the identical rows (the
    * priority is a row property, not an RNG draw — same discipline as
    * sample_hash). PipelineSpec pins bit-identity to the window
    * formulation; the oracle runs it in DuckDB. */
  private val reservoirK = 5

  private def sampleReservoir: Q = (s, d) => {
    val pr = conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
      .cast("long")
    t(s, d, "documents")
      .select(col("lang"), col("doc_id"), pr.as("pr"))
      .groupBy("lang")
      .agg(call_function("topk_pairs",
        col("pr").cast("double"), col("doc_id"), lit(reservoirK)).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rk"),
        col("p.id").as("doc_id"), col("p.score").cast("long").as("pr"))
      .orderBy("lang", "rk")
  }

  /** The window formulation sample_reservoir must be bit-identical to
    * (PipelineSpec pins it; shares the scale note on topk_group_agg). */
  private[graft] def sampleReservoirWindow: Q = (s, d) => {
    val pr = conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
      .cast("long")
    val w = Window.partitionBy("lang").orderBy(col("pr").desc, col("doc_id"))
    t(s, d, "documents")
      .select(col("lang"), col("doc_id"), pr.as("pr"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= reservoirK)
      .select(col("lang"), col("rk"), col("doc_id"), col("pr"))
      .orderBy("lang", "rk")
  }

  /** Windowed word CO-OCCURRENCE with exact lift — association mining
    * over the corpus ("which words travel together"), the counting
    * backbone of PMI features and phrase detection. Pair generation is
    * a PER-ROW nested array transform over the token attribute (window
    * ≤ 3 positions, pair key sorted so direction collapses) — a
    * generator, not a self-join: work is O(doc_len × window) per row
    * with zero shuffle until the count aggregates, where only
    * (pa, pb) pairs travel. Lambdas reference the token ATTRIBUTE
    * only (the computed-expression-in-lambda trap recorded in
    * SURVEY 8c-3 does not apply). Lift = n·c_ab / (c_a·c_b) stays in
    * exact integer arithmetic until a single IEEE division, so the
    * top-20 sort is bit-identical in both engines; the c_ab ≥ 5
    * support floor is the usual noise bound. */
  private def textCooc: Q = (s, d) => {
    // fanOut: the windowed pair generation is the CPU kernel and the
    // single-file gate fixture otherwise runs it in ONE task (a
    // 0.86 s single-task stage in graft.Profile); no-op at scale.
    val base = graft.Tables.fanOut(t(s, d, "documents"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val n2 = size(col("toks"))
    val pairsCol = flatten(transform(sequence(lit(1), n2 - 1), i =>
      transform(sequence(i + 1, least(i + 3, n2)), j =>
        struct(
          least(element_at(col("toks"), i), element_at(col("toks"), j))
            .as("pa"),
          greatest(element_at(col("toks"), i), element_at(col("toks"), j))
            .as("pb")))))
    // sequence(1, 0) would DESCEND for single-token docs — guard to an
    // empty pair list instead.
    val pairs = base
      .select(explode(when(n2 >= 2, pairsCol)
        .otherwise(array().cast("array<struct<pa:string,pb:string>>")))
        .as("p"))
      .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
    val words = base.select(explode(col("toks")).as("w"))
    val cw = words.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = words.agg(count(lit(1)).as("n"))
    pairs.groupBy("pa", "pb").agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= 5)
      .join(broadcast(cw.select(col("w").as("pa"), col("c").as("ca"))), "pa")
      .join(broadcast(cw.select(col("w").as("pb"), col("c").as("cb"))), "pb")
      .crossJoin(broadcast(tot))
      .select(col("pa"), col("pb"), col("c_ab"),
        ((col("n") * col("c_ab")).cast("double") /
          (col("ca") * col("cb")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("pa"), col("pb"))
      .limit(20)
  }

  /** EXACT corpus heavy hitters in the sketch-then-verify 2-pass shape.
    * Pass 1 runs [[graft.expr.MisraGriesAgg]] (bounded m-entry summary,
    * map-side combinable — the full word stream NEVER shuffles, each
    * partition ships <= m entries) alongside the total word count;
    * Misra–Gries guarantees every word with share > 1/(m+1) survives,
    * and m+1 > the support divisor, so the candidate set provably
    * contains every qualifying word. Pass 2 broadcast-joins the <= m
    * candidates back and counts ONLY those exactly — the shuffle
    * carries candidate words alone. Final filter on the EXACT count
    * (share > 1/500) makes the result independent of sketch noise:
    * exact answer, oracle-hash-equal to DuckDB's brute-force group-by,
    * without ever paying the full-cardinality word shuffle that kills
    * the naive plan at 100 TB. */
  private val heavyM = 599
  private val heavySupport = 500 // output: words with cnt * 500 > n

  private def aggHeavyHitters: Q = (s, d) => {
    require(heavyM + 1 >= heavySupport,
      "MG guarantee must cover the support threshold")
    val words = t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
    val cands = words
      .agg(count(lit(1)).as("n"),
        call_function("misra_gries", col("word"), lit(heavyM)).as("mg"))
      .select(col("n"), explode(col("mg")).as("c"))
      .select(col("c.word").as("word"), col("n"))
    words.join(broadcast(cands), Seq("word"))
      .groupBy("word", "n")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * heavySupport > col("n"))
      .select(col("word"), col("cnt"))
      .orderBy(col("cnt").desc, col("word"))
  }

  /** Dataset mixture with UPSAMPLING: per-source weight w (1.0–2.5) →
    * floor(w) full copies + a hash-sampled fractional epoch — exactly
    * how pretraining mixtures over-represent high-quality sources.
    * Weights derive deterministically from the source id; the copy
    * explode is `sequence(1, copies)` (a generator, not a shuffle) and
    * the fractional part reuses the hash-Bernoulli decision. Audit:
    * per-source original vs mixed row/token counts. */
  private def dataMixture: Q = (s, d) => {
    // regexp_extract yields '' (→ null cast) for a source with no
    // trailing digits; defaulting to 0 keeps such sources at weight
    // 1.0× instead of silently dropping every row (explode over a null
    // sequence emits nothing). The fixture corpus is all srcN, so the
    // oracle is unaffected; this is corpus-shape robustness.
    val srcnum = coalesce(
      regexp_extract(col("source"), "([0-9]+)$", 1).cast("long"), lit(0L))
    val wbp = lit(10000L) + pmod(srcnum, lit(4L)) * 5000L // 1.0x 1.5x 2.0x 2.5x
    val copies = (wbp / 10000L).cast("long")
    val fracBp = pmod(wbp, lit(10000L))
    val base = t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        wbp.as("weight_bp"), copies.as("copies"), fracBp.as("frac_bp"),
        hashBucket(col("doc_id")).as("bucket"))
    val full = base.select(col("source"), col("doc_id"), col("n_tok"),
      col("weight_bp"), explode(sequence(lit(1L), col("copies"))).as("epoch"))
    val frac = base.where(col("bucket") < col("frac_bp"))
      .select(col("source"), col("doc_id"), col("n_tok"), col("weight_bp"),
        lit(-1L).as("epoch"))
    full.unionAll(frac)
      .groupBy("source")
      .agg(
        max(col("weight_bp")).as("weight_bp"),
        count_distinct(col("doc_id")).as("n_orig"),
        count(lit(1)).as("n_mixed"),
        sum(col("n_tok")).as("tokens_mixed"))
      .orderBy("source")
  }

  /** Temperature-scaled source sampling (τ = 0.5) — the multilingual /
    * multi-source rebalancing classic: sampling probability ∝ n_s^τ,
    * so small sources are up-weighted relative to their share and the
    * head source stops dominating the mixture. Everything stays EXACT
    * INTEGER so the oracle hash-matches: the weight is isqrt(n_s)
    * (IEEE sqrt is correctly rounded, so floor(sqrt) is bit-identical
    * in every engine), the per-source acceptance rate in basis points
    * is one integer division, and row selection is the hash-Bernoulli
    * bucket (sample_hash's md5 discipline — no RNG, reproducible at
    * any scale with zero coordination). Scale shape: the source stat
    * table is dim-sized → broadcast back onto the corpus; the corpus
    * itself is touched once, filter codegen'd into the scan. The
    * integer products fit a long until corpora of ~10^12 docs/source;
    * past that, lift the arithmetic to DECIMAL(38,0) unchanged. */
  private def sampleTemperature: Q = (s, d) => {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val rates = docs.groupBy("source")
      .agg(count(lit(1)).as("n_s"))
      .withColumn("w_s", floor(sqrt(col("n_s").cast("double"))).cast("long"))
      .withColumn("w_tot",
        sum(col("w_s")).over(Window.partitionBy(lit(1))))
      .withColumn("n_tot",
        sum(col("n_s")).over(Window.partitionBy(lit(1))))
      .withColumn("accept_bp",
        least(lit(10000L),
          expr("(10000 * (n_tot DIV 2) * w_s) DIV (w_tot * n_s)")))
      .select("source", "n_s", "w_s", "accept_bp")
    docs.join(broadcast(rates), "source")
      .where(hashBucket(col("doc_id")) < col("accept_bp"))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_orig"),
        max(col("w_s")).as("w_s"),
        max(col("accept_bp")).as("accept_bp"),
        count(lit(1)).as("n_sampled"),
        sum(col("n_tok")).as("tokens_sampled"))
      .orderBy("source")
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * public): select pre-training documents that LOOK LIKE a target
    * domain by importance weighting over HASHED N-GRAM features, the
    * published scale trick that reduces language modeling of the two
    * domains to two B-bucket count vectors. Features: word bigrams
    * hashed to B=1024 buckets (md5-derived so the oracle reproduces the
    * bucketing); target = the `lang='en'` slice, raw = the full corpus;
    * per-bucket log-likelihood ratio under add-one smoothing
    *   llr(b) = ln(c_t+1) − ln(c_r+1) − ln(N_t+B) + ln(N_r+B)
    * and a document's log importance weight is the sum of llr over its
    * feature instances. Scale shape: the model is a ≤1024-row table
    * (two count columns over a fixed hash range — NOT vocabulary-sized)
    * built with one map-side-combined aggregation and broadcast back;
    * the corpus is touched twice (count, score), shuffle rows are
    * (bucket:long) only. Determinism: ln of exact integers accumulated
    * per doc and rounded to the 1e-6 grid (the text_perplexity
    * discipline — ~1e-13 relative fold noise against the grid);
    * PipelineSpec additionally pins a margin audit so the `selected`
    * sign threshold sits ≥ 1e-4 from every document's raw weight. */
  /** [[sampleDsir]] before the 1e-6 grid: (doc_id, lang, n_feat, lw)
    * with lw the RAW per-doc llr sum — exposed so PipelineSpec can
    * audit that no document's weight sits near the selection threshold
    * or a rounding-grid boundary (the anti-flap margin check). */
  private[graft] def sampleDsirRaw(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val bk = 1024L
    // fanOut: the single-file gate fixture otherwise runs the bigram
    // explode + per-bigram md5 (the CPU-dense kernel) in ONE task
    // (0.9 s + 0.6 s single-task stages in graft.Profile); no-op at scale.
    // localCheckpoint: `inst` feeds BOTH the hash-bucket model counts
    // and the per-doc score join — checkpoint so the md5 kernel runs
    // once, not per consumer (guide §5).
    val docs = graft.Tables.fanOut(t(s, d, "documents"))
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
    val inst = docs.select(col("doc_id"), col("lang"),
      explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (p, w) => concat_ws(" ", p, w))).as("bg"))
      .select(col("doc_id"), col("lang"),
        pmod(conv(substring(md5(col("bg")), 1, 8), 16, 10).cast("long"),
          lit(bk)).as("b"))
      .localCheckpoint()
    val counts = inst.groupBy("b").agg(
      count(lit(1)).as("c_r"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"))
    val model = counts
      .withColumn("nr", sum("c_r").over(Window.partitionBy(lit(1))))
      .withColumn("nt", sum("c_t").over(Window.partitionBy(lit(1))))
      .select(col("b"),
        (log(col("c_t") + 1) - log(col("c_r") + 1) -
          log(col("nt") + bk) + log(col("nr") + bk)).as("llr"))
    inst.join(broadcast(model), Seq("b"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_feat"), sum(col("llr")).as("lw"))
  }

  private def sampleDsir: Q = (s, d) =>
    sampleDsirRaw(s, d)
      .select(col("doc_id"), col("lang"), col("n_feat"),
        round(col("lw"), 6).as("log_weight"),
        (round(col("lw"), 6) > 0).as("selected"))
      .orderBy("doc_id")

  /** Greedy k-CENTER diversity sampling (Gonzalez '85 farthest-point
    * traversal, the classic 2-approximation): pick the mutually most
    * spread-out k=8 embedding exemplars — the coreset/diversity
    * selection a curation pipeline runs to seed clustering, pick
    * annotation batches, or de-bias a dominant mode. Deterministic and
    * engine-exact: vectors quantized to 1e-6-grid integers (the
    * [[embedPca|embed_pca]]/ml_kmeans micro-unit discipline), squared
    * distances are exact integer sums, the next center is the
    * (max min-distance, min vec_id) argmax, and the reported radius is
    * the selection distance — no floats anywhere, so the oracle's
    * identical unrolled 8 rounds hash-match bit-for-bit.
    *
    * Scale shape: each round is ONE corpus scan against ≤ k broadcast
    * center literals (codegen'd HOF distance, map-side top-1 via the
    * sort-limit rewrite) + a 1-row collect — k scans total, state on
    * the driver is k vectors. At 100 TB you'd carry a running
    * per-point min-distance column between rounds (halves the distance
    * evals at the cost of materializing state k times); the scan count
    * is k either way. */
  private def sampleKcenter: Q = (s, d) => {
    val k = 8
    val base = t(s, d, "embeddings").select(col("vec_id"),
      roundedGrid(col("embedding")).as("qarr"))
    val first = base.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("qarr")).head
    var cen = Vector(
      (1, first.getLong(0), 0L, first.getSeq[Long](1).toArray))
    for (r <- 2 to k) {
      val mind = cen.map { case (_, _, _, arr) =>
        sqDist(col("qarr"), array(arr.map(lit): _*))
      }.reduce((a, b) => least(a, b))
      val pick = base.select(col("vec_id"), col("qarr"), mind.as("mind"))
        .orderBy(col("mind").desc, col("vec_id")).limit(1).head
      cen :+= ((r, pick.getLong(0), pick.getLong(2),
        pick.getSeq[Long](1).toArray))
    }
    s.createDataFrame(cen.map(c => (c._1, c._2, c._3)))
      .toDF("k", "cid", "radius").orderBy("k")
  }

  /** WordPiece-style GREEDY LONGEST-MATCH tokenizer — the third
    * tokenizer discipline next to tok_bpe (merge-learned) and
    * tok_encode (merge-applied): a fixed-size subword vocabulary (top
    * 48 substrings of length 2–4 by corpus occurrence mass, ties
    * broken lexicographically — the deterministic analog of a
    * vocab-size hyperparameter) plus the implicit single-character
    * alphabet, applied by maximal munch (longest vocab piece at the
    * cursor wins — BERT's WordPiece inference rule). Everything is
    * integer/string-exact: occurrence mass is an integer sum, vocab
    * selection a total order, and the 8-step encode (max word length)
    * a chain of codegen'd CASE columns over the DISTINCT-WORD table —
    * at 100 TB the corpus is touched once for word counts and the
    * encode runs on the vocabulary-sized distinct table, never per
    * document. Oracle: identical unrolled steps. */
  private def tokWordpiece: Q = (s, d) => {
    val words = fanOut(t(s, d, "documents"))
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wfreq"))
    def occ(l: Int) = words.select(col("wfreq"),
      explode(filter(
        transform(
          sequence(lit(1), greatest(length(col("w")) - (l - 1), lit(1))),
          i => col("w").substr(i, lit(l))),
        p => length(p) === l)).as("p"))
    val vocab = occ(2).unionAll(occ(3)).unionAll(occ(4))
      .groupBy("p").agg(sum(col("wfreq")).as("pfreq"))
      .orderBy(col("pfreq").desc, col("p").asc).limit(48)
      .select("p").collect().map(_.getString(0))
    val byLen = vocab.groupBy(_.length)
    def inVocab(c: Column, l: Int): Column = byLen.get(l) match {
      case Some(ps) => c.isin(ps.toSeq: _*)
      case None     => lit(false)
    }
    var df = words.withColumn("cur", lit(1))
      .withColumn("enc", lit("")).withColumn("np", lit(0L))
    for (_ <- 1 to 8) {
      val rem = length(col("w")) - col("cur") + 1
      def piece(l: Int) = col("w").substr(col("cur"), lit(l))
      val take = when(col("cur") > length(col("w")),
        lit(null).cast("string"))
        .when(rem >= 4 && inVocab(piece(4), 4), piece(4))
        .when(rem >= 3 && inVocab(piece(3), 3), piece(3))
        .when(rem >= 2 && inVocab(piece(2), 2), piece(2))
        .otherwise(piece(1))
      df = df.withColumn("take", take)
        .withColumn("enc", when(col("take").isNull, col("enc"))
          .when(col("enc") === "", col("take"))
          .otherwise(concat(col("enc"), lit("|"), col("take"))))
        .withColumn("np",
          col("np") + when(col("take").isNull, 0L).otherwise(1L))
        .withColumn("cur", when(col("take").isNull, col("cur"))
          .otherwise(col("cur") + length(col("take"))))
        .drop("take")
    }
    df.select(col("w"), col("wfreq"), col("np").as("n_pieces"),
      col("enc").as("pieces")).orderBy("w")
  }

  /** Unigram-LM (SentencePiece-style, Kudo '18) VITERBI tokenizer —
    * the fourth tokenizer discipline (tok_bpe merge-learned,
    * tok_encode merge-applied, tok_wordpiece greedy longest-match,
    * and HERE the globally-optimal segmentation): per word, the
    * segmentation maximizing Σ score(piece) over a corpus-derived
    * vocabulary (the alphabet plus the top-48 length-2..4 substrings
    * by occurrence mass — tok_wordpiece's exact selection rule), with
    * score(p) = digits(mass(p)) − 20, an integer log₁₀ surrogate of
    * the unigram log-probability — so the whole DP stays in exact
    * integers (no log/float in either engine). Tie-break: fewer
    * pieces, encoded EXACTLY by packing (score, pieces) into one
    * integer — packed = score·16 + (15 − np) telescopes under the DP
    * recurrence (extend by one piece = +s·16 − 1), so a single
    * greatest() resolves both criteria at once; reconstruction walks
    * the suffix-DP array forward taking the longest piece that
    * attains the optimum (canonical plateau order, same CASE chain in
    * both engines). Scale shape: the corpus is touched ONCE for word
    * counts; the suffix DP (max word length 8 → 13 padded chained
    * columns, all codegen'd CASE/greatest over a ≤76-entry literal
    * score map) and the 8-step unrolled reconstruction run on the
    * DISTINCT-WORD table, never per document — tok_wordpiece's
    * vocabulary-sized-compute discipline. */
  private def tokUnigram: Q = (s, d) => {
    val sentinel = -10000000L
    val words = fanOut(t(s, d, "documents"))
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wfreq"))
    def occ(l: Int) = words.select(col("wfreq"),
      explode(filter(
        transform(
          sequence(lit(1), greatest(length(col("w")) - (l - 1), lit(1))),
          i => col("w").substr(i, lit(l))),
        p => length(p) === l)).as("p"))
    val multi = occ(2).unionAll(occ(3)).unionAll(occ(4))
      .groupBy("p").agg(sum(col("wfreq")).as("pfreq"))
      .orderBy(col("pfreq").desc, col("p").asc).limit(48)
    val single = occ(1).groupBy("p").agg(sum(col("wfreq")).as("pfreq"))
    val vocab = single.unionAll(multi)
      .select(col("p"),
        (length(col("pfreq").cast("string")).cast("long") - 20L).as("sc"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val sm = map(vocab.flatMap { case (p, sc) =>
      Seq(lit(p), lit(sc)) }.toSeq: _*)
    def sOf(piece: Column) =
      coalesce(try_element_at(sm, piece), lit(-1000000L))
    val L = col("L")
    var df = words.withColumn("L", length(col("w")).cast("int"))
    for (k <- 13 to 10 by -1) df = df.withColumn(s"dp$k", lit(sentinel))
    df = df.withColumn("dp9",
      when(L === 8, lit(15L)).otherwise(lit(sentinel)))
    for (k <- 8 to 1 by -1) {
      val cands = (1 to 4).map { ln =>
        when(lit(k + ln) <= L + 1,
          sOf(col("w").substr(lit(k), lit(ln))) * 16 +
            col(s"dp${k + ln}") - 1)
          .otherwise(lit(sentinel))
      }
      df = df.withColumn(s"dp$k",
        when(lit(k) === L + 1, lit(15L))
          .when(lit(k) <= L, greatest(cands: _*))
          .otherwise(lit(sentinel)))
    }
    df = df
      .withColumn("dparr", array((1 to 13).map(i => col(s"dp$i")): _*))
      .drop((1 to 13).map(i => s"dp$i"): _*)
      .withColumn("cur", lit(1)).withColumn("enc", lit(""))
      .withColumn("np", lit(0L))
    def dpAt(idx: Column) = try_element_at(col("dparr"), idx)
    for (_ <- 1 to 8) {
      val rem = L - col("cur") + 1
      def piece(ln: Int) = col("w").substr(col("cur"), lit(ln))
      def hits(ln: Int) = rem >= ln && dpAt(col("cur")) ===
        sOf(piece(ln)) * 16 + dpAt(col("cur") + ln) - 1
      val take = when(col("cur") > L, lit(null).cast("string"))
        .when(hits(4), piece(4))
        .when(hits(3), piece(3))
        .when(hits(2), piece(2))
        .otherwise(piece(1))
      df = df.withColumn("take", take)
        .withColumn("enc", when(col("take").isNull, col("enc"))
          .when(col("enc") === "", col("take"))
          .otherwise(concat(col("enc"), lit("|"), col("take"))))
        .withColumn("np",
          col("np") + when(col("take").isNull, 0L).otherwise(1L))
        .withColumn("cur", when(col("take").isNull, col("cur"))
          .otherwise(col("cur") + length(col("take"))))
        .drop("take")
    }
    df.select(col("w"), col("wfreq"),
        expr("(try_element_at(dparr, 1) - (15 - np)) DIV 16")
          .cast("long").as("score"),
        col("np").cast("long").as("n_pieces"), col("enc").as("pieces"))
      .orderBy("w")
  }

  /** END-TO-END CURATION PIPELINE — the capstone composition a
    * real pre-training data team runs as ONE job: Gopher rule filter
    * (text_gopher's keep law) → exact dedup (keep-lowest-id per text,
    * dedup_exact's law, applied to the surviving docs) → DSIR target-
    * domain selection (sample_dsir's sign threshold, model trained on
    * the FULL corpus — the upstream artifact, not the filtered view) →
    * context-window packing (pack_sequences' concatenate-and-split
    * manifest over the survivors). Every stage reuses a law already
    * individually exact-hash-proven, so the composition is exact by
    * construction; the oracle chains the same four formulations. Scale
    * shape: filters are scan projections, dedup is one hash shuffle on
    * text (32-byte digest at 100 TB), the DSIR probe broadcasts the
    * 1024-row model, packing is one window per source — the whole
    * pipeline is 3 shuffles end to end. */
  private def pipelineCurate: Q = (s, d) => {
    val kept = Llm.queries("text_gopher")(s, d)
      .where(col("keep")).select("doc_id")
    val docs = t(s, d, "documents")
    val uniq = docs.join(kept, "doc_id")
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val sel = sampleDsirRaw(s, d)
      .where(round(col("lw"), 6) > 0).select("doc_id")
    val surviving = uniq.join(sel, "doc_id")
    val w = Window.partitionBy("source").orderBy("doc_id")
    docs.join(surviving, "doc_id")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("pack_id",
        ((col("cum") - col("n_tok")) / 2048L).cast("long"))
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "pack_id")
  }

  /** Context-window sequence packing (concatenate-and-split, the
    * standard pretraining packing): within each source, documents are
    * concatenated in doc_id order and split at a 2048-token budget; a
    * document's pack is floor(start_offset / budget) of its position in
    * the token stream. One window (= one shuffle on source) computes
    * every offset; output is the per-pack manifest a dataloader would
    * consume. */
  private def packSequences: Q = (s, d) => {
    val budget = 2048L
    val w = Window.partitionBy("source").orderBy("doc_id")
    t(s, d, "documents")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("pack_id", ((col("cum") - col("n_tok")) / budget).cast("long"))
      .groupBy("source", "pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source", "pack_id")
  }

  /** First-fit-decreasing BIN PACKING — the other packing discipline
    * next to [[packSequences]]'s concatenate-and-split: documents must
    * stay WHOLE (no mid-document truncation), so each source's docs are
    * taken longest-first and placed into the first 512-token bin with
    * room, opening a new bin when none fits (FFD wastes ≤ 22% more
    * bins than optimal; greedy order makes it deterministic). The fold
    * is a sequential state machine BY NATURE, so the unit of
    * sequentiality is the blocking group: each source packs
    * independently (parallelism = source count; at 100 TB you pack per
    * (source, shard) — corpus_shard's output is exactly the right
    * granularity, keeping every group collect_list-bounded). Both
    * engines run the IDENTICAL first-fit fold over the identically
    * sorted queue — pure integer state, exact hash match. */
  private def packFfd: Q = (s, d) => {
    val budget = 512L
    val docs = t(s, d, "documents")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    // ascending struct sort on (−n_tok, doc_id) = FFD's longest-first
    val queue = docs.groupBy("source")
      .agg(sort_array(collect_list(struct((-col("n_tok")).as("neg"),
        col("doc_id").as("id")))).as("q"))
    val bins = aggregate(
      transform(col("q"), x => -x.getField("neg")),
      expr("CAST(array() AS ARRAY<BIGINT>)"),
      (acc, tok) => {
        val fits = filter(
          transform(acc, (b, i) => when(b + tok <= budget, i)),
          v => v.isNotNull)
        when(size(fits) === 0, concat(acc, array(tok)))
          .otherwise(transform(acc, (b, i) =>
            when(i === element_at(fits, 1), b + tok).otherwise(b)))
      })
    queue.select(col("source"), bins.as("bins"))
      .select(col("source"), posexplode(col("bins")))
      .select(col("source"), (col("pos") + 1).cast("long").as("bin"),
        col("col").as("load"))
      .orderBy("source", "bin")
  }

  /** Dataset CARD — the release artifact every corpus ships with, as
    * one query: per-language and per-source inventories, the corpus
    * total, quality-gate pass/fail splits (the text_score rule), and
    * the exact-dedup unique count. All exact integers except the one
    * IEEE division inside the quality rule (the text_score
    * discipline), one scan feeding four small aggregations — at
    * 100 TB this is a single pass plus dim-sized shuffles, the cheap
    * final step of a release pipeline, not a new heavy job. */
  private def pipelineDatasetCard: Q = (s, d) => {
    val toksArr = split(col("text"), " ")
    val base = t(s, d, "documents").select(
      col("doc_id"), col("lang"), col("source"), col("text"),
      size(toksArr).cast("long").as("n_tok"),
      (size(filter(toksArr, x => x.isin("the", "a", "of", "and", "to")))
        .cast("long") * 600L +
        least(length(col("text")).cast("long"), lit(500L)) * 3L)
        .cast("double").as("score_num"))
      .withColumn("keep",
        col("score_num") / col("n_tok").cast("double") >= 50.0d)
    def sect(df: DataFrame, section: String): DataFrame =
      df.select(lit(section).as("section"), col("k"),
        col("n_docs"), col("n_tokens"))
    val byLang = base.groupBy(col("lang").as("k"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val bySource = base.groupBy(col("source").as("k"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val overall = base.agg(count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens")).withColumn("k", lit("corpus"))
    val quality = base.groupBy(
      when(col("keep"), "keep").otherwise("drop").as("k"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val dedup = base.agg(
      count_distinct(sha2(col("text"), 256)).as("n_docs"),
      lit(0L).as("n_tokens")).withColumn("k", lit("unique_text"))
    sect(byLang, "lang")
      .unionByName(sect(bySource, "source"))
      .unionByName(sect(overall, "overall"))
      .unionByName(sect(quality, "quality"))
      .unionByName(sect(dedup, "dedup"))
      .orderBy("section", "k")
  }

  /** Vocabulary building: top-100 tokens by corpus frequency with
    * document frequency — the tokenizer-training first pass. Explode →
    * one hash aggregation (map-side combinable); the top-k is a
    * TakeOrdered over the aggregated (tiny) token table, not the token
    * stream. */
  private def tokVocab: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(100)

  /** BPE tokenizer training — K=8 greedy pair merges. The corpus-scale
    * stage is the single word-count aggregation (explode → groupBy,
    * map-side combined); the merge loop then iterates on the compact
    * (word, freq) table, which is orders of magnitude smaller than the
    * corpus at any scale — the standard distributed-BPE decomposition.
    * Each round runs ONE tiny argmax job (count DESC, pair ASC — fully
    * deterministic) whose single-row result parameterizes the next
    * round's merge fold; collecting that scalar is the loop control,
    * not a data path. The fold applies merges greedily left-to-right
    * via `aggregate` (codegen'd, no UDF). Oracle: pinned VALUES from an
    * independent Python BPE implementation over the same sf0.01 corpus
    * (same pattern as the zlib-pinned ingest oracles). */
  private def tokBpe: Q = (s, d) => {
    val rounds = 8
    // localCheckpoint pins the compact (sym, freq) table so the
    // corpus-scale aggregation runs ONCE — left as lineage, every
    // round's argmax job would re-scan the corpus and re-evaluate all
    // prior merge folds (O(rounds) scans, O(rounds²) fold work).
    var words = t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("sym"), col("freq"))
      .localCheckpoint()
    def applyMerge(sym: Column, a: String, b: String, m: String): Column =
      aggregate(sym, array().cast("array<string>"), (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
          .otherwise(concat(acc, array(x))))
    val merges = scala.collection.mutable.ArrayBuffer.empty[
      (Int, String, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      r += 1
      // sequence(1, 0) would DESCEND for single-symbol words — guard.
      val best = words
        .select(explode(when(size(col("sym")) > 1, transform(
          sequence(lit(1), size(col("sym")) - 1),
          i => concat_ws(" ", element_at(col("sym"), i),
            element_at(col("sym"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("pair"), col("freq"))
        .groupBy("pair")
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best.head.getString(0)
        val n = best.head.getLong(1)
        val Array(a, b) = pair.split(" ", 2)
        merges += ((r, a, b, a + b, n))
        // superseded rounds' checkpoint blocks are reclaimed by the
        // ContextCleaner once unreferenced (Dataset.unpersist cannot
        // free localCheckpoint blocks — they are RDD-level, not
        // CacheManager entries); the working set is one round's table
        words = words.select(
          applyMerge(col("sym"), a, b, a + b).as("sym"), col("freq"))
          .localCheckpoint()
      }
    }
    s.createDataFrame(merges.toSeq)
      .toDF("rank", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy("rank")
  }

  /** IVF-style approximate nearest neighbours: 8 coarse centroids
    * (corpus vectors at pinned ids — a deterministic stand-in for
    * k-means centroids), every vector assigned to its nearest centroid
    * (argmax cosine), queries probe their nprobe=2 nearest cells. The
    * classic inverted-file trade: assignment is a broadcast of 8
    * vectors against the streaming corpus (no corpus shuffle), search
    * touches ~nprobe/K of the corpus. Complements sim_ann_lsh
    * (hyperplane buckets) and sim_cosine_topk (exact baseline). */
  private val ivfCentroidIds = Seq(7L, 29L, 83L, 131L, 173L, 211L, 307L, 401L)
  private val ivfNprobe = 2

  private def simAnnIvf: Q = (s, d) => {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val scored = ranked(e)
    val cells = e
      .select(col("vec_id"), col("emb"), col("nrm"),
        element_at(scored, 1)("cid").as("cell"))
    val probes = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"),
        explode(transform(slice(scored, 1, ivfNprobe), x => x("cid")))
          .as("cell"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    cells.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (dot(col("qemb"), col("emb")) / (col("qnrm") * col("nrm"))).as("cos"))
      .select(col("qid"), col("vec_id"), col("cos"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("vec_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("qid", "rn")
  }

  /** The engine's SQL surface: the same query a notebook user would
    * type — plain `spark.sql` over a parquet path, calling the native
    * [[graft.expr.SanitizeFilename]] expression that
    * [[graft.GraftExtensions]] injected into the session's function
    * registry (no registration call anywhere in this method). */
  private def fnSqlRegistry: Q = (s, d) =>
    s.sql(
      s"""SELECT doc_id,
                 upper(lang) AS ulang,
                 sanitize_filename(concat(' ', source, '/f|', doc_id, '<x>.txt '))
                   AS clean
          FROM parquet.`$d/documents.parquet`
          ORDER BY doc_id""")

  /** The 8-merge tokenizer ARTIFACT trained by tok_bpe on the sf0.01
    * corpus (rank order). A tokenizer is a fixed artifact applied to
    * any corpus, so these are literals — tok_encode stays an exact
    * cross-engine oracle at every SF, unlike the training run whose
    * merge table is corpus-dependent (and therefore VALUES-pinned). */
  private val bpeMerges: Seq[(String, String, String)] = Seq(
    ("e", "r", "er"), ("i", "n", "in"), ("o", "w", "ow"), ("o", "r", "or"),
    ("s", "t", "st"), ("m", "er", "mer"), ("a", "t", "at"), ("l", "u", "lu"))

  /** BPE ENCODE — apply the trained merge list to the corpus (tok_bpe
    * trains the tokenizer; this is the other half every pipeline runs
    * on 100% of the data). Applying merges in rank order with
    * leftmost-nonoverlapping replacement is exactly the greedy BPE
    * encode: a later merge can never create an occurrence of an
    * earlier pair (the earlier pair's symbols predate the later merge's
    * output token). Words are rendered as `|sym|␣␣|sym|` — the
    * sentinels make a pair pattern match WHOLE symbols only (never a
    * symbol suffix), and the double-space separator keeps adjacent
    * matches independent, so plain replace-all (same leftmost semantics
    * in both engines, no regex) implements the merge. Everything is a
    * codegen'd per-row map over integer counts + ONE IEEE division —
    * no shuffle except the final orderBy, scale-indifferent. */
  private def tokEncode: Q = (s, d) => {
    def encodeWord(w: Column): Column = {
      val spaced = trim(regexp_replace(w, "(.)", "|$1|  "))
      bpeMerges.foldLeft(spaced) { case (c, (a, b, m)) =>
        replace(c, lit(s"|$a|  |$b|"), lit(s"|$m|"))
      }
    }
    def tokCount(w: Column): Column =
      when(w === "", 0).otherwise(size(split(encodeWord(w), "  ")))
    val words = split(col("text"), " ")
    val nTokens = aggregate(
      transform(words, w => tokCount(w).cast("long")), lit(0L), _ + _)
    val nChars = aggregate(
      transform(words, w => length(w).cast("long")), lit(0L), _ + _)
    t(s, d, "documents")
      .select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        nChars.as("n_word_chars"),
        nTokens.as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        col("n_word_chars").cast("double") /
          col("n_bpe_tokens").cast("double"))
      .orderBy("doc_id")
  }

  /** TF-IDF top-3 terms per document — the classic salient-term
    * extraction pass. Scoring is kept EXACT for the differential gate:
    * idf is the rational n_docs/df instead of a log (log(double) is
    * libm-dependent; Math.log and DuckDB's std::log can differ in the
    * last ulp), so tfidf = (tf·N)/df is one IEEE division of exact
    * integers — bit-identical in both engines, same ranking behavior
    * (log is monotone in N/df).
    *
    * Scale shape: the TEXT never shuffles — only (doc_id, word) pairs
    * after the explode. tf is one hash agg; df re-aggregates the tf
    * table (strictly smaller); the scalar doc count broadcasts; top-3
    * per doc plans as WindowGroupLimit (bounded per-group state), not
    * a full per-doc sort. */
  private def textTfidf: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("word"))
    tf.join(dfreq, "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select("doc_id", "rk", "word", "tf", "df", "tfidf")
      .orderBy("doc_id", "rk")
  }

  /** Deterministic training-shard assignment: shard = md5-bucket mod 8
    * (10000 % 8 == 0, so the buckets spread EXACTLY uniformly), position
    * within shard by doc_id order. The map from row → (shard, pos) is a
    * pure row property plus one rank — reruns produce byte-identical
    * shards with no coordination, and a downstream writer turns this
    * directly into `repartitionByRange(shard, pos).write` for N
    * balanced, stably-ordered training files. */
  private def corpusShard: Q = (s, d) => {
    val w = Window.partitionBy("shard").orderBy("doc_id")
    t(s, d, "documents")
      .select(col("doc_id"), col("n_chars"),
        pmod(hashBucket(col("doc_id")), lit(8L)).as("shard"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select("shard", "pos", "doc_id", "n_chars")
      .orderBy("shard", "pos")
  }

  /** Fixed-size overlapping document chunking (the pre-embedding pass:
    * retrieval corpora index CHUNKS, not documents): stride 100, window
    * 120 → 20-char overlap between neighbors, last chunk ragged. The
    * chunk set is a pure per-row property (generator expression, no
    * shuffle, no UDF); chunk_id is the stable join-back key to the
    * parent doc. Empty docs are filtered in both engines (sequence /
    * generate_series would invert on a negative upper bound). */
  private def textChunk: Q = (s, d) => {
    val len = length(col("text"))
    val lastChunk = floor((len - 1).cast("double") / 100.0d).cast("int")
    t(s, d, "documents")
      .where(len > 0)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lastChunk),
          i => col("text").substr(i * 100 + 1, lit(120)))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        col("col").as("chunk_text"),
        length(col("col")).cast("long").as("chunk_len"))
      .orderBy("doc_id", "chunk_id")
  }

  /** The WHOLE training-data assembly as ONE declarative plan —
    * quality gates → global exact dedup → token counting → sequence
    * packing → per-source funnel accounting. This is the query a
    * corpus team actually ships: every stage above exists as its own
    * verified operator (text_tokens, dedup_exact, pack_sequences,
    * obs_accounting), and composing them in one DataFrame DAG lets
    * Catalyst fuse the scan + quality filters + token derivation into
    * a single stage and run ONE dedup shuffle and ONE per-source pack
    * window. The corpus is read twice in total — one conditional-
    * aggregate pass for the raw→quality funnel counts, one pass for
    * the dedup/pack path (Spark has no common-subplan reuse across
    * independent aggregate branches, so the funnel counts deliberately
    * share a single aggregate rather than two). The output is the
    * per-source audit row: raw → quality → deduped counts, surviving
    * tokens, pack count.
    *
    * Quality gates are pure-SQL exact kernels (token floor ≥ 20,
    * distinct-token ratio ≥ 0.3 via n_uniq·10 ≥ n_tok·3 integer
    * compare, language whitelist) so the composed oracle needs no
    * pinning. Dedup keeps the lowest doc_id per identical text
    * (dedup_exact's rule); packing is pack_sequences' running-offset
    * `div 2048`. At 100 TB: text is projected away before BOTH
    * shuffles (dedup ships a digest+id, packing ships ids+counts), so
    * the wide column rides only scan→filter. */
  /** Stage-for-stage CTE mirror of the corpus assembly — shared as the
    * oracle by pipeline_corpus AND pipeline_corpus_stream (the stream
    * twin is contractually row-identical). */
  private[ops] val corpusOracle: String =
    """WITH raw AS (SELECT doc_id, source, lang, text FROM documents),
         toks AS (SELECT *,
                    len(string_split(text, ' '))::BIGINT AS n_tok,
                    len(list_distinct(string_split(text, ' ')))::BIGINT AS n_uniq
                  FROM raw),
         funnel AS (SELECT source, count(*) AS n_raw,
                      count(*) FILTER (WHERE lang IN ('en', 'fr', 'zh')
                        AND n_tok >= 20 AND n_uniq * 10 >= n_tok * 3)
                        AS n_quality
                    FROM toks GROUP BY source),
         qual AS (SELECT * FROM toks
                  WHERE lang IN ('en', 'fr', 'zh')
                    AND n_tok >= 20 AND n_uniq * 10 >= n_tok * 3),
         dd AS (SELECT doc_id, source, n_tok,
                  row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
                FROM qual),
         ded AS (SELECT doc_id, source, n_tok FROM dd WHERE rn = 1),
         packed AS (SELECT source, doc_id, n_tok,
                      sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS cum
                    FROM ded),
         fin AS (SELECT source, count(*) AS n_docs,
                   sum(n_tok)::BIGINT AS total_tokens,
                   count(DISTINCT (cum - n_tok) // 2048) AS n_packs
                 FROM packed GROUP BY source)
       SELECT fin.source AS source, funnel.n_raw, funnel.n_quality,
              fin.n_docs, fin.total_tokens, fin.n_packs
       FROM fin JOIN funnel ON fin.source = funnel.source
       ORDER BY fin.source"""

  /** Token/uniqueness counts + the quality gate — SHARED by
    * pipeline_corpus and its streaming twin (pipeline_corpus_stream),
    * which are contractually row-identical: the gate semantics live in
    * exactly one place. */
  private[ops] def corpusToks(raw: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = raw
    .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    .withColumn("n_uniq",
      size(array_distinct(split(col("text"), " "))).cast("long"))

  private[ops] def corpusQualCond: Column =
    col("lang").isin("en", "fr", "zh") &&
      col("n_tok") >= 20 && col("n_uniq") * 10 >= col("n_tok") * 3

  private def pipelineCorpus: Q = (s, d) => {
    val raw = t(s, d, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val toks = corpusToks(raw)
    val qualCond = corpusQualCond
    // Raw and post-quality counts fold into ONE conditional aggregate
    // — Spark has no common-subplan reuse across independent aggregate
    // branches, so separate rawN/qualN frames would each re-scan (and
    // re-decode the text column). Two passes total: this funnel
    // aggregate and the dedup/pack path below.
    val funnel = toks.groupBy("source").agg(
      count(lit(1)).as("n_raw"),
      sum(when(qualCond, 1L).otherwise(0L)).as("n_quality"))
    val qual = toks.where(qualCond)
    // Digest, not text, crosses the dedup shuffle (dedup_exact's rule;
    // the oracle partitions by text — identical classes).
    val dedupW = Window.partitionBy(sha2(col("text"), 256)).orderBy("doc_id")
    val deduped = qual
      .withColumn("rn", row_number().over(dedupW))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("source"), col("n_tok"))
    val packW = Window.partitionBy("source").orderBy("doc_id")
    val packed = deduped
      .withColumn("cum", sum(col("n_tok")).over(packW))
      .withColumn("pack_id", expr("(cum - n_tok) div 2048"))
    packed.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        countDistinct(col("pack_id")).as("n_packs"))
      .join(funnel, "source")
      .select(col("source"), col("n_raw"), col("n_quality"), col("n_docs"),
        col("total_tokens"), col("n_packs"))
      .orderBy("source")
  }

  /** K-means training (Lloyd iterations) — the job that TRAINS
    * sim_ann_ivf's coarse quantizer instead of assuming centroids:
    * k=8, 3 iterations of [[lloyd]] on the [[shiftedGrid]] (one
    * subspace), entirely in DataFrame ops. Every coordinate is a
    * POSITIVE integer micro-unit, so distances are exact integer sums
    * and the centroid update is integer floor-division (positive
    * everywhere, where negatives would split Spark's truncating `div`
    * from DuckDB's flooring `//`). The oracle unrolls the identical
    * three iterations.
    *
    * Scale shape per iteration: the k×d centroids ride into the plan as
    * literals, so assignment is a map-side argmin (no point ever
    * shuffles for it); the update shuffles (cluster, dim) partial sums —
    * map-side combined, O(k·d) final rows. Init = the k lowest vec_ids
    * (deterministic; k-means++ would sample — RNG has no cross-engine
    * oracle). Empty clusters drop and stay dropped identically in both
    * engines. */
  private def mlKmeans: Q = (s, d) => {
    val K = 8
    val Iters = 3
    val pts = t(s, d, "embeddings")
      .select(col("vec_id"), lit(0).as("sub"),
        shiftedGrid(col("embedding")).as("v"))
      // 5 consumers (seed collect + 3 Lloyd passes + report): checkpoint
      // the micro-unit projection once (guide §5)
      .localCheckpoint()
    val (prev, cent) = lloyd(pts, 0L until K, Iters)
    // Report the LAST iteration: per-cluster population + id digest
    // from the assignment that produced the final centroids, plus the
    // final centroid's first coordinate (integer micro-units).
    val c0 = element_at(
      map(cent.flatMap { case (cl, _, cp) => Seq(lit(cl), lit(cp.head)) }: _*),
      col("cl"))
    pts.select(col("vec_id"), nearest(col("v"), entries(prev)).as("cl"))
      .groupBy("cl")
      .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("id_digest"))
      .select(col("cl").as("cluster"), col("n"), col("id_digest"),
        c0.as("c0"))
      .orderBy("cluster")
  }

  /** PRODUCT QUANTIZATION ANN — the compressed-domain scale path: 64-dim
    * vectors become 4 sub-codes (one per 16-dim subspace, 8-entry
    * codebooks TRAINED by per-subspace Lloyd iterations on the integer
    * grid — the ml_kmeans discipline verbatim: deterministic seeds (8
    * fixed vec_ids, the sim_ann_ivf fixed-centroid convention),
    * (dist, cid) argmin assignment, elementwise `sum div count` means
    * over the non-negative micro-units (div ≡ floor division in every
    * engine there), empty entries drop and stay dropped — and search
    * runs entirely on the CODES via asymmetric distance computation:
    * per query, an 8×4 table of exact sub-distances; a candidate's
    * distance is 4 table lookups summed. At 100 TB the code index is
    * ~4 small ints/vector vs 64 floats (a 30×+ memory cut, the
    * difference between an in-RAM index and not having one);
    * embeddings are read once per Lloyd pass at INDEX-BUILD time and
    * never at query time, and the per-iteration codebook state is a
    * bounded 32-row control-plane collect (8 entries × 4 subspaces).
    * All arithmetic is the ml_kmeans integer micro-unit discipline
    * (floor((x+1)·10⁶), exact squared-L2 sums), so training, encode,
    * tables, and the ADC top-10 are bit-exact vs the identical DuckDB
    * mirror (the Lloyd loop unrolls to [[pqLloydSql]] CTEs there).
    * KmeansSpec pins a driver-side reference of the whole pipeline
    * (training included), and pins retrieval QUALITY (cluster-pure
    * top-10) on a clustered fixture; [[simAnnRecall]] measures
    * recall@10 on both a uniform and a planted-cluster regime. */
  private val pqSub = 4
  private val pqSubDim = 16
  private val pqSeedIds = Seq(11L, 29L, 47L, 83L, 97L, 131L, 151L, 173L)
  private val pqIters = 3

  /** Trained codebook as a TRAIN-ONCE index artifact: the PQ codebook
    * is index-build state — FAISS trains it once and serves every query
    * from it, exactly like the ivfpq cells/probes scratch tables below.
    * ml_pq, sim_ann_ivfpq and sim_ann_recall's uniform leg train on the
    * same sub-vector table, so they share one artifact instead of each
    * re-running the 4-collect Lloyd chain (seed + 3 iterations, each a
    * full sub-vector pass) on every invocation. Keyed by (dataset,
    * regime tag); ≤ 8×4 rows of exact longs, so the artifact IS the
    * training result bit-for-bit. Per-process scratch — a fresh JVM
    * retrains (no cross-run persistence); the bench's scratch_ms
    * attributes the first build. */
  private def pqCodebookCached(s: SparkSession, d: String, tag: String,
      sv: DataFrame): Codebook = {
    import s.implicits._
    val t = Scratch.table(s, Scratch.path(s"ml/pq_cb_$tag", d)) {
      lloyd(sv, pqSeedIds, pqIters)._2.toDF("cid", "sub", "cv")
    }
    t.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
      .sortBy(x => (x._2, x._1)).toSeq
  }

  /* Vector toolkit: the one owner of each primitive the embedding keys
   * share — the two integer grids, squared L2, the nearest-entry
   * argmin, the Lloyd trainer, the IVF cell ranking and the PQ coder. */

  /** The shifted micro-unit grid floor((x+1)·10⁶) of an embedding: one
    * IEEE add, one IEEE multiply, one floor — bit-identical in any
    * engine — and NON-NEGATIVE on [-1, 1] coordinates, so Lloyd means
    * floor-divide identically in Spark, DuckDB and python. */
  private[ops] def shiftedGrid(c: Column): Column =
    transform(c, x => floor((x.cast("double") + 1.0d) * 1000000.0d).cast("long"))

  /** The rounded micro-unit grid floor(x·10⁶+0.5) of an embedding: the
    * nearest signed micro-unit, one IEEE chain. */
  private[ops] def roundedGrid(c: Column): Column =
    transform(c, x => floor(x.cast("double") * 1e6 + lit(0.5)).cast("long"))

  /** Exact squared L2 of two grid vectors: the native
    * [[graft.expr.SqDistI64]] kernel (one static call, no per-element
    * lambda; VectorOpsSpec pins it to the higher-order fold, nulls,
    * length mismatches and overflow included). */
  private def sqDist(a: Column, b: Column): Column =
    call_function("sqdist_i64", a, b)

  /** (id, grid vector) entries as a literal array<struct<id, cv>>. */
  private[ops] def entryLit(es: Seq[(Long, Seq[Long])]): Column =
    array(es.map { case (id, cv) =>
      struct(lit(id).as("id"), array(cv.map(lit): _*).as("cv"))
    }: _*)

  /** Id of the entry nearest to `v`: the (dist, id) lexicographic argmin
    * over `entries`, an array<struct<id, cv>> — a map-side projection
    * with no join and no exchange. */
  private[ops] def nearest(v: Column, entries: Column): Column =
    element_at(sort_array(transform(entries,
      e => struct(sqDist(v, e("cv")).as("dist"), e("id").as("id")))), 1)("id")

  /** A codebook: (id, subspace, centroid) rows of driver state. */
  private type Codebook = Seq[(Long, Int, Seq[Long])]

  /** The entries of the row's subspace `sub` in `cb`, as a literal. */
  private def entries(cb: Codebook): Column =
    element_at(array((0 to cb.map(_._2).max).map(sub =>
      entryLit(cb.filter(_._2 == sub).sortBy(_._1).map(e => (e._1, e._3)))): _*),
      col("sub") + 1)

  /** Lloyd k-means over `rows` (vec_id, sub, v: array<bigint>), one
    * codebook per subspace `sub`. The seeds are the rows whose vec_id
    * is in `seeds`; each iteration assigns every row its [[nearest]]
    * entry and replaces each entry by the elementwise `sum div count`
    * mean of its rows (floor division over the non-negative
    * [[shiftedGrid]], identical in every engine); empty entries drop
    * and stay dropped. The codebook rides into each iteration as a
    * literal, so an iteration is ONE job whose means collapse map-side
    * to ≤ entries×dims partial rows before the single exchange. Returns
    * (the codebook the last iteration assigned by, the final codebook):
    * the first gives the assignment the final means were taken over. */
  private def lloyd(rows: DataFrame, seeds: Seq[Long],
      iters: Int): (Codebook, Codebook) = {
    def ordered(cb: Iterable[(Long, Int, Seq[Long])]): Codebook =
      cb.toSeq.sortBy(x => (x._2, x._1))
    val seed = ordered(rows.where(col("vec_id").isin(seeds: _*))
      .select(col("vec_id"), col("sub"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2))))
    (1 to iters).foldLeft((seed, seed)) { case ((_, cb), _) =>
      (cb, ordered(rows
        .withColumn("cid", nearest(col("v"), entries(cb)))
        .select(col("cid"), col("sub"), posexplode(col("v")).as(Seq("dim", "pv")))
        .groupBy("cid", "sub", "dim")
        .agg(expr("sum(pv) div count(1)").as("cv"))
        .collect()
        .groupBy(r => (r.getLong(0), r.getInt(1)))
        .map { case ((cid, sub), rs) =>
          (cid, sub, rs.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq)
        }))
    }
  }

  /** IVF cell ranking of each row of `base` (vec_id, emb, nrm): the
    * [[ivfCentroidIds]] vectors are coordinator METADATA (every k-means
    * driver holds them), collected once and inlined as literals, so the
    * ranking is a pure projection fused into the scan — no join, no
    * window, no shuffle of the (8×-expanded) corpus. Sorted by
    * (−cosine, cid): element 1 is the row's cell, the first nprobe its
    * probes. NaN cosines (zero-norm vectors) sort LAST — a garbage
    * vector should not win a cell; a window DESC formulation would rank
    * NaN first. */
  private def ranked(base: DataFrame): Column = {
    val cents = base.where(col("vec_id").isin(ivfCentroidIds: _*))
      .select(col("vec_id"), col("emb"), col("nrm"))
      .collect().sortBy(_.getLong(0)).map { r =>
        struct(lit(r.getLong(0)).as("cid"),
          array(r.getSeq[Double](1).map(lit): _*).as("cemb"),
          lit(r.getDouble(2)).as("cnrm"))
      }
    sort_array(transform(array(cents.toSeq: _*), c =>
      struct((dot(col("emb"), c("cemb")) / (col("nrm") * c("cnrm")) * -1)
        .as("negcos"), c("cid").as("cid"))))
  }

  /** The PQ coder over grid rows `pts` (vec_id, p): 4 sub-vectors per
    * row, the `tag` codebook ([[pqCodebookCached]]), then
    *   - `enc` (vec_id, sub, code): each sub-vector's [[nearest]] entry;
    *   - `dtab` (qid, sub, code, qd): per probe query (vec_id < 5), the
    *     exact sub-distance to every entry of its subspace — the
    *     asymmetric distance table, 4×8 ints per query, map-side. */
  private def pqCode(s: SparkSession, d: String, tag: String,
      pts: DataFrame): (DataFrame, DataFrame) = {
    val subs = array((0 until pqSub).map(i =>
      struct(lit(i).as("sub"),
        slice(col("p"), i * pqSubDim + 1, pqSubDim).as("v"))): _*)
    val sv = pts.select(col("vec_id"), explode(subs).as("x"))
      .select(col("vec_id"), col("x.sub").as("sub"), col("x.v").as("v"))
      // 5 consumers (3 Lloyd passes + encode + dtab): checkpoint the
      // tiny sub-vector table once instead of re-scanning + re-exploding
      // the embeddings per pass (guide §5: cheap lineage cut, in-query).
      .localCheckpoint()
    val cb = pqCodebookCached(s, d, tag, sv)
    val enc = sv.select(col("vec_id"), col("sub"),
      nearest(col("v"), entries(cb)).as("code"))
    val dtab = sv.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("sub"),
        explode(transform(entries(cb), e => struct(e("id").as("code"),
          sqDist(col("v"), e("cv")).as("qd")))).as("x"))
      .select(col("qid"), col("sub"), col("x.code").as("code"),
        col("x.qd").as("qd"))
    (enc, dtab)
  }

  /** The [[lloyd]] PQ training unrolled to DuckDB CTEs over
    * the sub-vector table `sp` (vec_id, sub, dim, pv): identical
    * seeds, (dist, cid) argmin assignment, and `sum // count` means
    * (floor ≡ Spark's `div` on the non-negative micro-unit grid).
    * Yields `cb` (cid, sub, dim, cv) for the encode/table joins. */
  private def pqLloydSql: String = {
    val init = s"""cb0 AS (SELECT vec_id AS cid, sub, dim, pv AS cv FROM sp
                  WHERE vec_id IN (${pqSeedIds.mkString(", ")}))"""
    val iters = (1 to pqIters).map { i =>
      s"""ld$i AS (SELECT a.vec_id, a.sub, c.cid,
                        sum((a.pv - c.cv) * (a.pv - c.cv)) AS dist
                 FROM sp a JOIN cb${i - 1} c ON a.dim = c.dim
                 GROUP BY a.vec_id, a.sub, c.cid),
           la$i AS (SELECT vec_id, sub, cid FROM (
                      SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                        ORDER BY dist, cid) AS rn FROM ld$i) WHERE rn = 1),
           cb$i AS (SELECT la$i.cid, sp.sub, sp.dim,
                           (sum(sp.pv) // count(*))::BIGINT AS cv
                    FROM sp JOIN la$i ON sp.vec_id = la$i.vec_id
                      AND sp.sub = la$i.sub
                    GROUP BY la$i.cid, sp.sub, sp.dim)"""
    }.mkString(",\n           ")
    s"$init,\n           $iters,\n           cb AS (SELECT * FROM cb$pqIters)"
  }

  private def mlPq: Q = (s, d) => {
    val pts = t(s, d, "embeddings")
      .select(col("vec_id"), shiftedGrid(col("embedding")).as("p"))
    val (enc, dtab) = pqCode(s, d, "raw", pts)
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    enc.join(broadcast(dtab), Seq("sub", "code"))
      .where(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("qd")).as("adist"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .where(col("rn") <= 10)
      .orderBy("qid", "rn")
  }

  /** IVF + PQ COMPOSED — the FAISS-IVFPQ index shape, assembled from
    * the two verified halves ([[simAnnIvf]]'s coarse cells,
    * [[mlPq]]'s code search): candidates come ONLY from the query's
    * nprobe coarse cells, and distances are computed ONLY on 4-byte
    * PQ codes via the per-query asymmetric table — at 100 TB this is
    * the standard billion-vector layout (cells bound the candidates,
    * codes bound the bytes; full embeddings are read exactly once at
    * index-build time, never at query time). Every stage keeps the
    * parents' integer-exact discipline, so the composition is
    * hash-exact against a DuckDB mirror of the SAME two chains joined
    * the same way. */
  private def simAnnIvfpq: Q = (s, d) => {
    // coarse side: cell assignment + nprobe probes (simAnnIvf's
    // literal-centroid projection, ids only)
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val scored = ranked(e)
    // The cell map and probe list are INDEX-BUILD artifacts (computed
    // once when the index is built, reused by every query) — they
    // materialize like any index, which also gives the later
    // cells⋈probes self-join clean independent lineage.
    val cells = Scratch.table(s, Scratch.path("ml/ivfpq_cells", d)) {
      e.select(col("vec_id"), element_at(scored, 1)("cid").as("cell"))
    }
    val probes = Scratch.table(s, Scratch.path("ml/ivfpq_probes", d)) {
      e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"),
          explode(transform(slice(scored, 1, ivfNprobe), x => x("cid")))
            .as("cell"))
    }
    // fine side: PQ codes + per-query distance tables, mlPq's coder
    val (enc, dtab) = pqCode(s, d, "raw", t(s, d, "embeddings")
      .select(col("vec_id"), shiftedGrid(col("embedding")).as("p")))
    // compose: candidates restricted to probed cells, scored on codes
    val cand = cells.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id")
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    cand.join(enc, Seq("vec_id"))
      .join(broadcast(dtab), Seq("qid", "sub", "code"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("qd")).as("adist"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .where(col("rn") <= 10)
      .orderBy("qid", "rn")
  }

  /** ANN RECALL AUDIT — the "measure, don't guess" discipline of
    * dedup_minhash_recall applied to the ANN family, now over TWO
    * regimes:
    *   - `uniform`   — the corpus embeddings as-is: uniform-random,
    *     the distance-concentration WORST case for any compressed
    *     index; reported honestly, not cherry-picked away;
    *   - `clustered` — a planted-cluster fixture derived
    *     deterministically from the same corpus on the integer grid:
    *     cluster(v) = v mod NC with NC = max(8, n div 11) (≈11-member
    *     clusters at any SF), clustered grid vector = anchor·19/20 +
    *     own/20 in exact integer division over the NON-NEGATIVE
    *     micro-units (floor ≡ truncate there, so Spark `div`, DuckDB
    *     `//` and python `//` agree term by term). This is the regime
    *     a trained PQ index exists for: tight clusters with
    *     inter-cluster distance ≈ 19× the intra-cluster jitter.
    * For every regime, probe query (vec_id < 5) and nprobe ∈
    * {1,2,4,8}:
    *   - `ivf`   recall@10 vs the EXACT cosine top-10 over the whole
    *     corpus (brute force is O(queries × corpus) — 5 queries keep
    *     the truth side linear at any SF; ties (cos DESC, vec_id));
    *   - `ivfpq` recall@10 vs the EXACT integer-micro-unit squared-L2
    *     top-10 — the metric PQ approximates — so its misses compound
    *     BOTH loss sources: the probe-set boundary and code
    *     distortion. Codebooks are TRAINED per regime by
    *     [[lloyd]]: the index sees the data it serves,
    *     exactly as in production.
    * The IVF ranking inside the candidate set is the exact cosine, so
    * an IVF miss is PURELY the probe-set boundary: a true neighbor
    * whose cell none of the query's nprobe probes covers (any
    * candidate outranking a truth member is itself a truth member —
    * global order restricted to a subset). Hence the pinned laws,
    * per regime: ivf n_hits = |truth ∩ probed cells|, ivf recall
    * monotone in nprobe, recall ≡ 1 at nprobe = 8 (all cells
    * probed). IVFPQ at nprobe = 8 isolates pure code distortion:
    * low on uniform (distance concentration — reported honestly),
    * ≈0.9+ on clustered (the trained-codebook operating point the
    * index exists for). Oracle: pinned VALUES from the independent
    * python mirror (tools/ann_recall_oracle.py — same IEEE left-fold
    * dot, same integer grid, same Lloyd recurrence, zero JVM). */
  private def simAnnRecall: Q = (s, d) => {
    val nprobes = Seq(1, 2, 4, 8)
    val raw = t(s, d, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"),
        shiftedGrid(col("embedding")).as("p"))
    val nVec = raw.count()
    val nc = math.max(8L, nVec / 11L)
    val anchors = raw.where(col("vec_id") < nc)
      .select(col("vec_id").as("aid"), col("p").as("ap"))
    val clusteredBase = raw
      .withColumn("aid", pmod(col("vec_id"), lit(nc)))
      .join(broadcast(anchors), Seq("aid"))
      .select(col("vec_id"),
        expr("zip_with(ap, p, (a, b) -> (19L * a) div 20L + b div 20L)")
          .as("p"))
      .withColumn("emb", expr("transform(p, x -> cast(x as double))"))
      .select(col("vec_id"), col("emb"), col("p"))
      // consumed by the cells/pairs chain AND the PQ sub-vector table:
      // checkpoint so the anchor join runs once, not per consumer
      .localCheckpoint()
    // One full audit chain per regime over (vec_id, emb, p); uniform
    // keeps the raw float-origin doubles for cosine, clustered runs
    // cosine on the grid-as-double (self-consistent fixture).
    def leg(regime: String, base0: DataFrame): DataFrame = {
      val base = base0.withColumn("nrm", norm(col("emb")))
      val scored = ranked(base)
      val cells = base
        .select(col("vec_id"), col("emb"), col("nrm"), col("p"),
          element_at(scored, 1)("cid").as("cell"))
      val q = cells.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("emb").as("qemb"),
          col("nrm").as("qnrm"), col("p").as("qp"))
      // (qid, nprobe, cell) probe sets — ≤ 5 × Σnprobes rows, broadcast
      val probes = base.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), scored.as("sc"))
        .select(col("qid"), explode(typedLit(nprobes)).as("nprobe"),
          col("sc"))
        .select(col("qid"), col("nprobe"),
          explode(transform(slice(col("sc"), lit(1), col("nprobe")),
            x => x("cid"))).as("cell"))
      // Exact scores of every (query, vector) pair under both metrics:
      // ONE corpus pass against the 5 broadcast queries (bounded-dim
      // BNLJ — the sim_cosine_topk class).
      val pairs = cells
        .join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), col("cell"),
          (dot(col("qemb"), col("emb")) / (col("qnrm") * col("nrm")))
            .as("cos"),
          sqDist(col("qp"), col("p")).as("l2"))
        // Not pre-partitioned by qid: under AQE a checkpointed RDD
        // reports UnknownPartitioning(0), so the four rank windows below
        // re-exchange regardless; those exchanges are required
        // clusterings.
        .localCheckpoint()
      val wCos = Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id"))
      val wL2 = Window.partitionBy("qid").orderBy(col("l2"), col("vec_id"))
      val truthCos = pairs.withColumn("rn", row_number().over(wCos))
        .where(col("rn") <= 10).select(col("qid"), col("vec_id"))
      val truthL2 = pairs.withColumn("rn", row_number().over(wL2))
        .where(col("rn") <= 10).select(col("qid"), col("vec_id"))
      // candidate pairs per (qid, nprobe): cell must be probed
      val cand = pairs.join(broadcast(probes), Seq("qid", "cell"))
      val wCosN = Window.partitionBy("qid", "nprobe")
        .orderBy(col("cos").desc, col("vec_id"))
      val ivfTop = cand.withColumn("rn", row_number().over(wCosN))
        .where(col("rn") <= 10).select(col("qid"), col("nprobe"),
          col("vec_id"))
      // IVFPQ: asymmetric code distance of the candidates over the
      // regime-trained codebook ([[pqCode]]). The uniform leg's
      // sub-vector table is the raw mlPq/simAnnIvfpq one row-for-row,
      // so it shares their artifact.
      val (enc, dtab) = pqCode(s, d,
        if (regime == "uniform") "raw" else regime, base0)
      val wAdcN = Window.partitionBy("qid", "nprobe")
        .orderBy(col("adist"), col("vec_id"))
      val pqTop = cand.select(col("qid"), col("nprobe"), col("vec_id"))
        .join(enc, Seq("vec_id"))
        .join(broadcast(dtab), Seq("qid", "sub", "code"))
        .groupBy("qid", "nprobe", "vec_id")
        .agg(sum(col("qd")).as("adist"))
        .withColumn("rn", row_number().over(wAdcN))
        .where(col("rn") <= 10)
        .select(col("qid"), col("nprobe"), col("vec_id"))
      // full (algo × qid × nprobe) grid so zero-hit cells still report
      val grid = q.select(col("qid"))
        .crossJoin(s.createDataFrame(nprobes.map(Tuple1(_))).toDF("nprobe"))
      def hits(top: DataFrame, truth: DataFrame): DataFrame = grid
        .join(top.join(truth, Seq("qid", "vec_id"), "left_semi")
          .groupBy("qid", "nprobe").agg(count(lit(1)).as("h")),
          Seq("qid", "nprobe"), "left")
        .select(col("qid"), col("nprobe"),
          coalesce(col("h"), lit(0L)).as("n_hits"))
      hits(ivfTop, truthCos).withColumn("algo", lit("ivf"))
        .unionByName(hits(pqTop, truthL2).withColumn("algo", lit("ivfpq")))
        .select(lit(regime).as("regime"), col("algo"), col("nprobe"),
          col("qid"), col("n_hits"),
          (col("n_hits").cast("double") / 10.0d).as("recall"))
    }
    // The two regime legs are fully independent chains whose
    // CONSTRUCTION runs bounded control-plane jobs (centroid collect,
    // 3 Lloyd collects, the pairs checkpoint) — overlap them on two
    // driver threads so one leg's collects back-fill the other's idle
    // cores (guide §2.6). Results are unchanged: each leg is
    // deterministic and they share no state.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fu = scala.concurrent.Future(leg("uniform", raw))
      val fc = scala.concurrent.Future(leg("clustered", clusteredBase))
      // Await BOTH legs unboundedly before rethrowing either failure:
      // a hard timeout makes a larger SF fail where it would only run
      // longer, and a first-leg throw would leave the second future
      // running detached with its failure swallowed. ready (not result) on each leg first, so no leg is
      // still in flight when a failure propagates.
      import scala.concurrent.duration.Duration
      scala.concurrent.Await.ready(fu, Duration.Inf)
      scala.concurrent.Await.ready(fc, Duration.Inf)
      val u = fu.value.get.get
      val cl = fc.value.get.get
      u.unionByName(cl).orderBy("regime", "algo", "nprobe", "qid")
    } finally pool.shutdown()
  }

  /** Model-based quality filtering — the classifier stage of a real
    * training-data pipeline (the fasttext-quality-filter shape):
    * distill the heuristic text_score gate into a LEARNED linear model
    * by weak supervision, then apply it to the whole corpus. The model
    * is a ridge-regularized least-squares probe trained in CLOSED FORM
    * from the normal equations: one distributed pass over the training
    * half accumulates the d×d integer Gram matrix XᵀX and the vector
    * Xᵀy (map-side-combinable sums — at 100 TB this is ONE scan plus a
    * 4×4 solve, no epochs, no convergence question, which is why
    * small-d linear models are trained this way at scale); the driver
    * solves (XᵀX + λI)w = Xᵀy EXACTLY by Cramer's rule in BigInt
    * (λ=1 keeps the system nonsingular for any input) and broadcasts
    * the integer determinant weights; prediction is the sign of an
    * exact DECIMAL(38,0) dot product, so the whole train→apply
    * pipeline is bit-reproducible and the DuckDB oracle re-derives the
    * SAME determinants from explicit 4×4/3×3 cofactor expansions in
    * HUGEINT. Features: bias, stopword count, token count, clamped
    * char length (exact integer counts; the corpus carries no
    * punctuation, so the text_score rule reduces to a linear function
    * of exactly these — the probe recovers it to ~95% accuracy, shown
    * by the confusion matrix over the FULL corpus incl. the held-out
    * odd half). A perceptron variant was tried and rejected: its batch
    * updates oscillate on this margin (250→113→137 errors), while the
    * closed form is deterministic, single-pass, and better. */
  private def mlQualityClassifier: Q = (s, d) => {
    val toks = split(col("text"), " ")
    val f = t(s, d, "documents").select(
      col("doc_id"),
      lit(1L).as("x0"),
      size(filter(toks, x => x.isin("the", "a", "of", "and", "to")))
        .cast("long").as("x1"),
      size(toks).cast("long").as("x2"),
      least(length(col("text")).cast("long"), lit(500L)).as("x3"))
      .withColumn("y",
        when((lit(600L) * col("x1") + lit(3L) * col("x3")).cast("double")
          / col("x2").cast("double") >= 50.0d, 1L).otherwise(-1L))
    val dims = Seq("x0", "x1", "x2", "x3")
    val train = f.where(pmod(col("doc_id"), lit(2)) === 0)
    // one pass: Gram matrix + response vector as integer sums
    val sums = train.agg(
      sum(col(dims.head) * col(dims.head)).as("a00"),
      (for { i <- dims.indices; j <- dims.indices; if i + j > 0 }
        yield sum(col(dims(i)) * col(dims(j))).as(s"a$i$j")) ++
        dims.indices.map(i => sum(col("y") * col(dims(i))).as(s"b$i")): _*)
      .collect()(0)
    val a = Array.tabulate(4, 4) { (i, j) =>
      BigInt(sums.getLong(sums.fieldIndex(s"a$i$j"))) +
        (if (i == j) BigInt(1) else BigInt(0)) // ridge λ=1
    }
    val bv = Array.tabulate(4)(i => BigInt(sums.getLong(sums.fieldIndex(s"b$i"))))
    def det(m: Array[Array[BigInt]]): BigInt =
      if (m.length == 1) m(0)(0)
      else (m(0).indices.map { j =>
        val minor = m.tail.map(r => r.indices.filter(_ != j).map(r).toArray)
        (if (j % 2 == 0) BigInt(1) else BigInt(-1)) * m(0)(j) * det(minor)
      }).sum
    val dA = det(a)
    val sign = if (dA < 0) BigInt(-1) else BigInt(1)
    // Cramer: w_i ∝ det(A with column i := b); sign(D) folded in so the
    // score comparison is orientation-free
    val wts = Array.tabulate(4) { i =>
      sign * det(Array.tabulate(4, 4)((r, c) => if (c == i) bv(r) else a(r)(c)))
    }
    val score = dims.zip(wts).map { case (c, wv) =>
      lit(new java.math.BigDecimal(wv.bigInteger)) * col(c)
    }.reduce(_ + _)
    val scored = f.select(col("doc_id"), col("y"),
      when(score > 0, 1L).otherwise(-1L).as("pred"))
    val conf = scored.groupBy("y", "pred").agg(count(lit(1)).as("n"))
      .select(lit("confusion").as("metric"), col("y").as("k1"),
        col("pred").as("k2"), col("n"))
    val signs = dims.indices.map(i =>
      ("weight_sign", i.toLong, 0L, wts(i).signum.toLong))
    val sp = s
    import sp.implicits._
    val extras = signs.toDF("metric", "k1", "k2", "n")
    conf.unionByName(extras).orderBy("metric", "k1", "k2")
  }

  /** Closed-form OLS regression per group (price-vs-time trend per
    * nation) — the "fit a line to 100 TB" shape: ONE scan, ONE shuffle
    * of O(groups) exact integer power sums (map-side partial agg does
    * everything), no iterative solver. x = days since 1995-01-01
    * (exact int), y = kilodollar floor of the order total (exact int —
    * kilodollars keep Σy² · n under 2⁶³ to ~sf100; past that lift the
    * power sums to DECIMAL(38,0)). slope = (nΣxy − ΣxΣy)/(nΣx² −
    * (Σx)²) with numerator/denominator computed EXACTLY in long, then
    * ONE int64→double cast each (correctly rounded in every engine,
    * unlike wide-decimal→double — the [[aggStats]] lesson) and one IEEE
    * divide; intercept = ȳ − slope·x̄ and r² continue the identical
    * fixed op chain, so doubles match bitwise. */
  private def mlLinreg: Q = (s, d) => {
    val day0 = 788918400L // epoch seconds of 1995-01-01T00:00Z
    val o = t(s, d, "orders")
      .select(col("o_custkey"),
        ((unix_timestamp(col("o_orderdate")) - day0) / 86400L)
          .cast("long").as("x"),
        floor(col("o_totalprice") / 1000.0d).cast("long").as("y"))
    val cn = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(t(s, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val sums = o.join(broadcast(cn), col("o_custkey") === col("c_custkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val deny = col("n") * col("syy") - col("sy") * col("sy")
    val slope = num.cast("double") / den.cast("double")
    sums.select(col("n_name"), col("n"), col("sx"), col("sy"),
        col("sxx"), col("sxy"), col("syy"),
        when(den > 0, slope).as("slope"),
        when(den > 0, col("sy").cast("double") / col("n") -
          slope * (col("sx").cast("double") / col("n"))).as("intercept"),
        when(den > 0 && deny > 0,
          num.cast("double") * num.cast("double") /
            (den.cast("double") * deny.cast("double"))).as("r2"))
      .orderBy("n_name")
  }

  /** CLOSED-FORM RIDGE REGRESSION per return flag — multivariate
    * [[mlLinreg]]: fit price-kilodollars on (quantity, discount-cents)
    * with an L2 penalty (λ = 10 on the feature diagonal, intercept
    * unpenalized), solved by Cramer's rule on the 3×3 normal equations
    * — the "fit a regularized model to 100 TB in ONE pass" shape: the
    * data contributes ten exact integer power sums through a single
    * combinable hash agg (map-side partial — O(groups) rows cross the
    * shuffle), and ALL solver math runs on those sums in a fixed
    * driver-free projection. No iterative solver, no second pass:
    * even the training SSE comes off the same sums (‖y − Xβ‖² =
    * Σy² − 2βᵀXᵀy + βᵀXᵀXβ). Exactness: kilodollar y keeps every sum
    * < 2⁵³ to ~sf100 (the [[mlLinreg]] bound), each int64→double cast
    * is correctly rounded in both engines, and the determinant /
    * cofactor / SSE chains are mirrored PARENTHESIS-FOR-PARENTHESIS
    * in the oracle so the doubles exact-hash with no rounding. */
  private def mlRidge: Q = (s, d) => {
    val lam = 10.0d
    val li = t(s, d, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x1"),
        (dec(col("l_discount")) * 100).cast("long").as("x2"),
        floor(col("l_extendedprice") / 1000.0d).cast("long").as("y"))
    val sums = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("y")).as("sy"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"),
        sum(col("y") * col("y")).as("syy"))
    def D(c: Column) = c.cast("double")
    // symmetric M = [a b c; b dd e; c e f] (ridge on the diagonal),
    // rhs = [p q r]
    val m = sums
      .withColumn("a", D(col("n"))).withColumn("b", D(col("s1")))
      .withColumn("c", D(col("s2")))
      .withColumn("dd", D(col("s11")) + lit(lam))
      .withColumn("e", D(col("s12")))
      .withColumn("f", D(col("s22")) + lit(lam))
      .withColumn("p", D(col("sy"))).withColumn("q", D(col("s1y")))
      .withColumn("r", D(col("s2y")))
      // first-row cofactors and the Cramer numerator helpers
      .withColumn("cof1", col("dd") * col("f") - col("e") * col("e"))
      .withColumn("cof2", col("b") * col("f") - col("e") * col("c"))
      .withColumn("cof3", col("b") * col("e") - col("dd") * col("c"))
      .withColumn("t1", col("q") * col("f") - col("e") * col("r"))
      .withColumn("t2", col("q") * col("e") - col("dd") * col("r"))
      .withColumn("t3", col("b") * col("r") - col("q") * col("c"))
      .withColumn("t4", col("dd") * col("r") - col("q") * col("e"))
      .withColumn("det",
        col("a") * col("cof1") - col("b") * col("cof2") +
          col("c") * col("cof3"))
      .withColumn("b0",
        (col("p") * col("cof1") - col("b") * col("t1") +
          col("c") * col("t2")) / col("det"))
      .withColumn("b1",
        (col("a") * col("t1") - col("p") * col("cof2") +
          col("c") * col("t3")) / col("det"))
      .withColumn("b2",
        (col("a") * col("t4") - col("b") * col("t3") +
          col("p") * col("cof3")) / col("det"))
      .withColumn("lin",
        col("b0") * col("p") + col("b1") * col("q") +
          col("b2") * col("r"))
      .withColumn("quad",
        col("b0") * col("b0") * col("a") +
          col("b1") * col("b1") * D(col("s11")) +
          col("b2") * col("b2") * D(col("s22")) +
          lit(2.0d) * col("b0") * col("b1") * col("b") +
          lit(2.0d) * col("b0") * col("b2") * col("c") +
          lit(2.0d) * col("b1") * col("b2") * col("e"))
      .withColumn("sse", D(col("syy")) - lit(2.0d) * col("lin") +
        col("quad"))
    m.select(col("l_returnflag"), col("n"), lit(lam).as("lambda"),
        col("b0"), col("b1"), col("b2"), col("sse"))
      .orderBy("l_returnflag")
  }

  /** k-NEAREST-NEIGHBOR CLASSIFICATION (k=5 majority vote) of a probe
    * batch against the labeled embedding corpus — the lazy-learner
    * baseline every ANN index (sim_ann_ivf/ivfpq) exists to
    * accelerate, and the standard label-transfer pass of a curation
    * pipeline (propagate a small seed labeling to the corpus).
    * Exactness: vectors on the 1e-6 integer grid
    * ([[sampleKcenter]]/embed_pca discipline), distances are exact
    * integer squared L2, neighbor rank ties → min vec_id, vote ties →
    * (max count, min label) — bit-identical to the oracle with zero
    * floats. Scale shape: the PROBE side (every 10th of the first 1000
    * vec_ids — a ≤100-row batch that does NOT grow with the corpus)
    * broadcasts; the train corpus streams through ONE scan into the
    * native [[graft.expr.TopKAgg]] bounded heap keyed by probe — the
    * topk_group_agg discipline. The partial aggregate runs MAP-SIDE, so
    * each input partition emits at most k pairs per probe and only
    * k·|probes|·partitions tiny rows ever cross the shuffle; the
    * |train|·|probes| candidate product is consumed where it is
    * produced, never shuffled into |probes| reducer partitions (the
    * plain-window formulation's scale killer — every candidate row
    * would land on ≤100 reducers at any corpus size). Exactness of the
    * heap key: score = −dist is integer-exact in a double (dist ≤
    * 64·(2e6)² ≈ 2.6e14 < 2⁵³) and id = vec_id·16+label packs the
    * vote label losslessly (label < 16), so (score DESC, id ASC) ≡ the
    * window's (dist ASC, vec_id ASC) total order. At 100 TB you swap
    * the brute-force scan for the sim_ann_ivf cell route — the
    * heap/vote/tie logic is unchanged. */
  private def mlKnn: Q = (s, d) => {
    val base = t(s, d, "embeddings").select(col("vec_id"), col("label"),
      roundedGrid(col("embedding")).as("qarr"))
    // Bounded probe batch (≤100): the broadcast side must not grow with
    // the corpus — at 100× the corpus the batch is the same 100 probes
    // and total work stays ∝ |train|. A no-op at the sf0.01 gate
    // (500 vectors), BINDING from sf0.1 up (2000+).
    val probes = base
      .where(pmod(col("vec_id"), lit(10)) === 0 && col("vec_id") < 1000)
      .select(col("vec_id").as("probe_id"), col("label").as("true_label"),
        col("qarr").as("parr"))
    // The train side round-robins across defaultParallelism before the
    // broadcast join: the map-side topk_pairs partial can only
    // parallelize across input partitions, and the embeddings table is
    // one input split locally (few small files), which would serialize
    // the whole candidate product through ~1 task. The exchange
    // moves each compact (vec_id, label, qarr) row exactly once — the
    // volume the scan already read, never the candidate product — and
    // at 100 TB, where the scan is already thousands of splits, AQE is
    // free to coalesce it back.
    val train = base
      .where(pmod(col("vec_id"), lit(10)) =!= 0 || col("vec_id") >= 1000)
      .repartition(s.sparkContext.defaultParallelism)
    // Per-pair distance via [[sqDist]]: ONE static call per pair with a
    // primitive loop. A higher-order fold here would evaluate an
    // interpreted per-element lambda per candidate pair inside the heap
    // aggregate's score.eval after CollapseProject (measured 2.1 →
    // 14.2 s on this key).
    val dist = sqDist(col("qarr"), col("parr"))
    val nn = train.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("true_label"),
        (-dist).cast("double").as("neg_dist"),
        (shiftleft(col("vec_id"), 4) + col("label")).as("enc"))
      .groupBy("probe_id", "true_label")
      .agg(call_function("topk_pairs",
        col("neg_dist"), col("enc"), lit(5)).as("top"))
      .select(col("probe_id"), col("true_label"), explode(col("top")).as("p"))
      .select(col("probe_id"), col("true_label"),
        shiftright(col("p.id"), 4).as("vec_id"),
        col("p.id").bitwiseAND(15).cast("int").as("label"),
        (-col("p.score")).cast("long").as("dist"))
    val wVote = Window.partitionBy("probe_id")
      .orderBy(col("n_votes").desc, col("label").asc)
    nn.groupBy("probe_id", "true_label", "label")
      .agg(count(lit(1)).as("n_votes"), min(col("dist")).as("best_dist"))
      .withColumn("vr", row_number().over(wVote))
      .where(col("vr") === 1)
      .select(col("probe_id"), col("true_label"),
        col("label").as("pred_label"), col("n_votes"), col("best_dist"),
        (col("label") === col("true_label")).as("correct"))
      .orderBy("probe_id")
  }

  /** MULTINOMIAL NAIVE BAYES language classifier — train on even
    * doc_ids, predict the odd half: add-one-smoothed per-language
    * token likelihoods ln((c(t,l)+1)/(n(l)+V)) plus the ln document
    * prior, argmax over the five fixed languages. Determinism: all
    * counts (c, n, V, priors) are exact integers; each ln sees one
    * exact division; the per-doc sum folds ln terms whose ~1e-13
    * fold-order noise the 1e-6 grid absorbs (the sample_dsir/
    * text_perplexity discipline); the argmax compares GRID-ROUNDED
    * scores with a fixed language-precedence CASE chain (the
    * text_lang_id shape) so both engines break ties identically.
    * Scale shape: the model is ONE vocabulary-sized aggregate with
    * per-language conditional counts (5 fixed columns — no lang×token
    * shuffle), joined to the test tokens by a PLAIN equi-join on tok.
    * Deliberately NO broadcast hint: vocabulary grows with the corpus
    * (Heaps' law), so a hard-coded broadcast of the model is
    * GBs-to-TBs at 100 TB and kills the driver; the shuffled hash
    * join moves exactly the same (token, 5 counts) rows scale-safely,
    * and AQE is still free to choose broadcast at runtime when the
    * measured model size is actually small. The 1-row totals/priors
    * broadcasts are bounded by construction and stay explicit. */
  private def mlNaiveBayes: Q = (s, d) => {
    val langs = Seq("en", "de", "es", "fr", "zh")
    val toks = t(s, d, "documents").select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tok"))
    val train = toks.where(pmod(col("doc_id"), lit(2)) === 0)
    def langSums(prefix: String) =
      langs.map(l => sum(when(col("lang") === l, 1L).otherwise(0L))
        .as(s"$prefix$l"))
    val model = train.groupBy("tok")
      .agg(langSums("c_").head, langSums("c_").tail: _*)
    val totCols = countDistinct(col("tok")).as("v") +: langSums("n_")
    val totals = train.agg(totCols.head, totCols.tail: _*)
    val priCols = count(lit(1)).as("nd") +: langSums("d_")
    val priors = t(s, d, "documents")
      .where(pmod(col("doc_id"), lit(2)) === 0)
      .agg(priCols.head, priCols.tail: _*)
    val test = toks.where(pmod(col("doc_id"), lit(2)) === 1)
    val inst = test.join(model, Seq("tok"), "left")
      .crossJoin(broadcast(totals))
    val llCols = langs.map(l => sum(
      log((coalesce(col(s"c_$l"), lit(0L)) + 1L).cast("double") /
        (col(s"n_$l") + col("v")).cast("double"))).as(s"ll_$l"))
    val scored = inst.groupBy("doc_id", "lang")
      .agg(llCols.head, llCols.tail: _*)
      .crossJoin(broadcast(priors))
    val sCols = langs.map(l => round(
      col(s"ll_$l") +
        log(col(s"d_$l").cast("double") / col("nd").cast("double")),
      6).as(s"s_$l"))
    val g = scored.select(col("doc_id") +: col("lang").as("true_lang") +:
      sCols: _*)
    val pred = when(
      col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
        col("s_en") >= col("s_fr") && col("s_en") >= col("s_zh"), "en")
      .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr") &&
        col("s_de") >= col("s_zh"), "de")
      .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
      .when(col("s_fr") >= col("s_zh"), "fr")
      .otherwise("zh")
    g.select(col("doc_id"), col("true_lang"), pred.as("pred_lang"),
        greatest(col("s_en"), col("s_de"), col("s_es"), col("s_fr"),
          col("s_zh")).as("best_score"),
        (pred === col("true_lang")).as("correct"))
      .orderBy("doc_id")
  }

  /** BATCH PERCEPTRON (Rosenblatt 1958, batch variant) — 3 unrolled
    * synchronous rounds of the linear classifier on the embeddings
    * table (y = +1 iff label ≥ 5): M_r = {i : y_i·⟨w_r, x_i⟩ ≤ 0},
    * w_{r+1} = w_r + Σ_{M_r} y_i·x_i. The simplest TRAINABLE model
    * whose training loop has the canonical distributed shape — per
    * round, w broadcasts into the scan as a 64-literal array, the
    * per-dim update reduces MAP-SIDE (posexplode → partial sum over
    * 64 keys), and the driver folds exactly 64 longs per round
    * (control-plane, the embed_pca discipline). Exactness: vectors on
    * the 1e-6 grid, w₀ = 0 makes the first update engine-invariant by
    * construction (y·0 ≤ 0 — every vector is in M₀), so each w_r is
    * an exact integer function of the data; zero floats anywhere. A
    * loud guard bounds |⟨w,x⟩| against Long overflow (binds ~sf30 at
    * dim 64; past it, apply the embed_pca DIV-rescale discipline).
    * Output: (dim, w after rounds 1..3) — 64 BIGINT-exact rows. */
  private def mlPerceptron: Q = (s, d) => {
    val rounds = 3
    val dim = 64
    val base = t(s, d, "embeddings").select(
      when(col("label") >= 5, 1L).otherwise(-1L).as("y"),
      roundedGrid(col("embedding")).as("qarr"))
    val n = base.count()
    require(BigInt(rounds) * n * 1000000L * dim * 1000000L <
      BigInt(Long.MaxValue),
      s"ml_perceptron: |<w,x>| bound exceeds Long at n=$n — " +
        "add the embed_pca DIV rescale before growing further")
    var w = Array.fill(dim)(0L)
    val hist = Array.ofDim[Long](dim, rounds)
    for (r <- 0 until rounds) {
      val wLit = array(w.map(v => lit(v)): _*)
      val score = aggregate(
        zip_with(col("qarr"), wLit, (a, b) => a * b),
        lit(0L), (acc, v) => acc + v)
      val delta = base.where(col("y") * score <= 0)
        .select(col("y"), posexplode(col("qarr")).as(Seq("i", "q")))
        .groupBy("i").agg(sum(col("q") * col("y")).as("dw"))
        .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
      w = Array.tabulate(dim)(i => w(i) + delta.getOrElse(i, 0L))
      for (i <- 0 until dim) hist(i)(r) = w(i)
    }
    val out = (0 until dim).map(i =>
      (i.toLong, hist(i)(0), hist(i)(1), hist(i)(2)))
    s.createDataFrame(out).toDF("dim", "w_r1", "w_r2", "w_r3")
      .orderBy("dim")
  }

  /** DECISION STUMP under 0-1 loss — the AdaBoost/GBDT first-round weak
    * learner (Freund & Schapire '97) over the embeddings table: per
    * dimension, the threshold split of y = [label ≥ 5] minimizing
    * misclassifications on a FIXED 16-bucket grid over the 1e-6
    * quantized value domain (the histogram trick XGBoost/LightGBM use
    * per feature per round). The canonical distributed tree-training
    * shape: the only data-scale pass is ONE posexplode → per-(dim,
    * bucket) (Σy, count) histogram that partial-aggregates MAP-SIDE
    * into ≤ 64×16 = 1024 groups per input partition, so the shuffle
    * moves O(grid × partitions) rows at ANY SF; everything downstream
    * (dense-grid join so empty buckets still anchor the canonical
    * tie-break, per-dim prefix windows, argmax) runs on the fixed
    * 1024-row histogram — grid-sized, never data-sized. Exactness:
    * 0-1 loss keeps the whole argmax in integer counts (no impurity
    * ratios to divide), each leaf votes its majority class via
    * greatest(), and the (correct DESC, split ASC) tie-break over the
    * DENSE grid is a total order — both engines pick the identical
    * split even on plateaus. Output: per dim the best split and its
    * four leaf counts, 64 BIGINT rows. */
  private def mlStump: Q = (s, d) => {
    val dim = 64
    val buckets = 16
    val hist = t(s, d, "embeddings")
      .select(
        when(col("label") >= 5, 1L).otherwise(0L).as("y"),
        posexplode(roundedGrid(col("embedding"))).as(Seq("j", "q")))
      .select(col("j").cast("long").as("j"),
        expr("(q + 1000000L) DIV 125000").as("b"), col("y"))
      .groupBy("j", "b")
      .agg(sum("y").as("pos"), count(lit(1)).as("tot"))
    val grid = s.range(dim).select(col("id").as("j"))
      .crossJoin(s.range(buckets).select(col("id").as("b")))
    val dense = grid.join(hist, Seq("j", "b"), "left")
      .select(col("j"), col("b"),
        coalesce(col("pos"), lit(0L)).as("pos"),
        coalesce(col("tot"), lit(0L)).as("tot"))
    val byJ = Window.partitionBy("j")
    val pre = Window.partitionBy("j").orderBy("b")
    val negL = col("tot_l") - col("pos_l")
    val posR = col("n_pos") - col("pos_l")
    val negR = col("n_tot") - col("n_pos") - negL
    val scored = dense
      .withColumn("pos_l", sum("pos").over(pre))
      .withColumn("tot_l", sum("tot").over(pre))
      .withColumn("n_pos", sum("pos").over(byJ))
      .withColumn("n_tot", sum("tot").over(byJ))
      .where(col("b") <= buckets - 2)
      .select(col("j").as("dim"), col("b").as("split"),
        col("pos_l"), negL.as("neg_l"), posR.as("pos_r"), negR.as("neg_r"),
        (greatest(col("pos_l"), negL) + greatest(posR, negR)).as("correct"))
    scored
      .withColumn("rn", row_number().over(Window.partitionBy("dim")
        .orderBy(col("correct").desc, col("split"))))
      .where(col("rn") === 1).drop("rn")
      .orderBy("dim")
  }

  /** DEPTH-2 DECISION TREE under 0-1 loss — [[mlStump]] grown one
    * level, i.e. the actual per-round structure of a GBDT/random-forest
    * trainer (histogram root split, then per-leaf conditional
    * histograms; Chen & Guestrin '16 §3.3). Level 1 is the stump
    * histogram with a GLOBAL argmax — tie-break (correct DESC, dim ASC,
    * split ASC) over the dense grid is a total order, so the root is
    * engine-invariant; the winning (dim, split) row collects to the
    * driver (ONE row — control-plane, the kmeans-centroid discipline).
    * Level 2 re-scans with the root as a LITERAL: each row computes its
    * own leaf from embedding[rootDim] (no join back to a leaf table —
    * the oracle DOES route through a vec_id join, making the two sides
    * algorithmically independent) and feeds a (node, dim, bucket)
    * histogram that partial-aggregates map-side into ≤ 2×64×16 = 2048
    * groups per input partition. Both passes therefore shuffle
    * O(grid × partitions) rows at ANY SF — data is touched exactly
    * twice, always behind a map-side combine; every argmax/prefix
    * window runs on the fixed grid, never on data. An EMPTY leaf stays
    * deterministic: the dense grid anchors all-zero counts and the
    * tie-break selects (dim 0, split 0) in both engines. Output: 3
    * BIGINT rows — node 0 (root), 1 (left, bucket ≤ split),
    * 2 (right). */
  /** Shared histogram-stump machinery ([[mlDt2]], [[mlBoost]]): score
    * every (…, split) of a dense-gridded (…, b) → (pos, tot) count
    * histogram. Always runs on grid-sized input (≤ |nodeGrid| rows) —
    * the data-sized work is the caller's map-side histogram. */
  private def stumpSplits(h: DataFrame, nodeGrid: DataFrame,
      part: Seq[String]): DataFrame = {
    val dense = nodeGrid.join(h, part :+ "b", "left")
      .select((part :+ "b").map(col) :+
        coalesce(col("pos"), lit(0L)).as("pos") :+
        coalesce(col("tot"), lit(0L)).as("tot"): _*)
    val byK = Window.partitionBy(part.map(col): _*)
    val pre = byK.orderBy("b")
    val negL = col("tot_l") - col("pos_l")
    dense
      .withColumn("pos_l", sum("pos").over(pre))
      .withColumn("tot_l", sum("tot").over(pre))
      .withColumn("n_pos", sum("pos").over(byK))
      .withColumn("n_tot", sum("tot").over(byK))
      .where(col("b") <= 14)
      .select(part.map(col) :+ col("b").as("split") :+
        col("pos_l") :+ negL.as("neg_l") :+
        (col("n_pos") - col("pos_l")).as("pos_r") :+
        (col("n_tot") - col("n_pos") - negL).as("neg_r") :+
        (greatest(col("pos_l"), negL) +
          greatest(col("n_pos") - col("pos_l"),
            col("n_tot") - col("n_pos") - negL)).as("correct"): _*)
  }

  /** 1e-6 quantized bucket of embedding dim `j` (0-based), as the SQL
    * text both second-pass scans inline against the collected first-round
    * literal. */
  private def bucketSql(j: Long): String =
    s"(CAST(floor(embedding[$j] * 1e6 + 0.5) AS LONG) + 1000000L)" +
      " DIV 125000"

  private def mlDt2: Q = (s, d) => {
    val dim = 64
    val buckets = 16
    def hist(base: DataFrame, keys: Seq[String]): DataFrame =
      base.groupBy(keys.map(col): _*)
        .agg(sum("y").as("pos"), count(lit(1)).as("tot"))
    def scoreSplits(h: DataFrame, nodeGrid: DataFrame,
        part: Seq[String]): DataFrame = stumpSplits(h, nodeGrid, part)
    val base1 = t(s, d, "embeddings")
      .select(when(col("label") >= 5, 1L).otherwise(0L).as("y"),
        posexplode(roundedGrid(col("embedding"))).as(Seq("j0", "qv")))
      .select(col("y"), col("j0").cast("long").as("j"),
        expr("(qv + 1000000L) DIV 125000").as("b"))
    val grid = s.range(dim).select(col("id").as("j"))
      .crossJoin(s.range(buckets).select(col("id").as("b")))
    val rootRow = scoreSplits(hist(base1, Seq("j", "b")), grid, Seq("j"))
      .orderBy(col("correct").desc, col("j"), col("split"))
      .limit(1).collect().head
    val (rj, rs) = (rootRow.getLong(0), rootRow.getLong(1))
    val base2 = t(s, d, "embeddings")
      .select(when(col("label") >= 5, 1L).otherwise(0L).as("y"),
        when(expr(bucketSql(rj)) <= rs, 1L).otherwise(2L).as("node"),
        posexplode(roundedGrid(col("embedding"))).as(Seq("j0", "qv")))
      .select(col("node"), col("y"), col("j0").cast("long").as("j"),
        expr("(qv + 1000000L) DIV 125000").as("b"))
    val grid2 = s.range(2).select((col("id") + 1).as("node"))
      .crossJoin(grid)
    val leaves = scoreSplits(hist(base2, Seq("node", "j", "b")), grid2,
        Seq("node", "j"))
      .withColumn("rn", row_number().over(Window.partitionBy("node")
        .orderBy(col("correct").desc, col("j"), col("split"))))
      .where(col("rn") === 1)
      .select(col("node"), col("j").as("dim"), col("split"),
        col("pos_l"), col("neg_l"), col("pos_r"), col("neg_r"),
        col("correct"))
    val root = s.createDataFrame(Seq((0L, rj, rs, rootRow.getLong(2),
        rootRow.getLong(3), rootRow.getLong(4), rootRow.getLong(5),
        rootRow.getLong(6))))
      .toDF("node", "dim", "split", "pos_l", "neg_l", "pos_r", "neg_r",
        "correct")
    root.unionByName(leaves).orderBy("node")
  }

  /** TWO-ROUND BOOSTING over histogram stumps — the AdaBoost loop
    * structure (Freund & Schapire '97) with a DETERMINISTIC INTEGER
    * reweighting: the first round fits [[mlStump]]'s global best stump; rows it
    * misclassifies get weight 3 (everyone else 1 — a fixed-factor
    * surrogate for exp(2α), chosen integer so both engines' weighted
    * histograms stay in exact BIGINT arithmetic, no exp/ln anywhere);
    * the second round re-fits the best stump under those weights (weighted
    * counts wpos = Σw·y, wtot = Σw — same dense grid, same total-order
    * (correct DESC, dim ASC, split ASC) tie-break). The second round may
    * legitimately RE-PICK the first round's split when no other dim wins on the
    * reweighted mass (observed at the gate SF) — the weighted counts
    * prove the reweighting is live either way. Scale shape: the first round's
    * winning row (plus its leaf majorities) collects to the driver
    * (ONE row — control-plane), the second round re-scans computing each row's
    * weight from the root LITERAL (prediction = collected leaf
    * majority), and both scans partial-aggregate MAP-SIDE into ≤ 1024
    * groups per partition — the classic "T passes over the data, grid-
    * sized state" boosting layout, no per-row weight table ever
    * materialized or joined. Output: 2 BIGINT rows (the first round's
    * plain stump, then the second round's weighted re-fit). */
  private def mlBoost: Q = (s, d) => {
    val dim = 64
    val buckets = 16
    val base1 = t(s, d, "embeddings")
      .select(when(col("label") >= 5, 1L).otherwise(0L).as("y"),
        posexplode(roundedGrid(col("embedding"))).as(Seq("j0", "qv")))
      .select(col("y"), col("j0").cast("long").as("j"),
        expr("(qv + 1000000L) DIV 125000").as("b"))
    val grid = s.range(dim).select(col("id").as("j"))
      .crossJoin(s.range(buckets).select(col("id").as("b")))
    val h1 = base1.groupBy("j", "b")
      .agg(sum("y").as("pos"), count(lit(1)).as("tot"))
    val r1 = stumpSplits(h1, grid, Seq("j"))
      .orderBy(col("correct").desc, col("j"), col("split"))
      .limit(1).collect().head
    val (rj, rs) = (r1.getLong(0), r1.getLong(1))
    val (pl, nl, pr, nr) = (r1.getLong(2), r1.getLong(3),
      r1.getLong(4), r1.getLong(5))
    val predL = if (pl > nl) 1L else 0L
    val predR = if (pr > nr) 1L else 0L
    val base2 = t(s, d, "embeddings")
      .select(when(col("label") >= 5, 1L).otherwise(0L).as("y"),
        when(when(expr(bucketSql(rj)) <= rs, predL).otherwise(predR) =!=
          when(col("label") >= 5, 1L).otherwise(0L), 3L).otherwise(1L)
          .as("w"),
        posexplode(roundedGrid(col("embedding"))).as(Seq("j0", "qv")))
      .select(col("y"), col("w"), col("j0").cast("long").as("j"),
        expr("(qv + 1000000L) DIV 125000").as("b"))
    val h2 = base2.groupBy("j", "b")
      .agg(sum(col("w") * col("y")).as("pos"), sum("w").as("tot"))
    val r2 = stumpSplits(h2, grid, Seq("j"))
      .orderBy(col("correct").desc, col("j"), col("split"))
      .limit(1)
      .select(lit(2L).as("round"), col("j").as("dim"), col("split"),
        col("pos_l").as("wpos_l"), col("neg_l").as("wneg_l"),
        col("pos_r").as("wpos_r"), col("neg_r").as("wneg_r"),
        col("correct").as("wcorrect"))
    val round1 = s.createDataFrame(Seq((1L, rj, rs, pl, nl, pr, nr,
        r1.getLong(6))))
      .toDF("round", "dim", "split", "wpos_l", "wneg_l", "wpos_r",
        "wneg_r", "wcorrect")
    round1.unionByName(r2).orderBy("round")
  }

  /** Weighted sampling WITHOUT replacement by sequential Poisson
    * sampling (Ohlsson '98): priority = u/w with u a 52-bit md5 uniform
    * and w the row weight (order value in cents); the k smallest
    * priorities are the sample, inclusion probability ≈ proportional to
    * weight. Deterministic like every graft sampler — the priority is a
    * row property, so the sample is identical across runs, engines, and
    * resumed jobs, with ZERO coordination (each row computes its own
    * priority; the only global step is top-k). Integer division keeps
    * both engines bit-identical (no pow/log calls whose libm rounding
    * could flip a rank). The top-k is orderBy+limit → per-partition
    * bounded heaps + one O(k) merge, never a global sort. */
  private def sampleWeighted: Q = (s, d) => {
    val u = conv(substring(md5(col("o_orderkey").cast("string")), 1, 13),
      16, 10).cast("long")
    t(s, d, "orders")
      .select(col("o_orderkey"),
        (dec(col("o_totalprice")) * 100).cast("long").as("w_cents"),
        u.as("u52"))
      .withColumn("priority", expr("u52 DIV w_cents"))
      .orderBy(col("priority"), col("o_orderkey"))
      .limit(50)
  }

  /** DBSCAN density clustering — the non-parametric sibling of
    * [[mlKmeans]] (no k, finds noise), composed ENTIRELY from the
    * engine's verified primitives: the ε-neighbor join is the
    * join_spatial 3×3 grid blocking (work ∝ near-pairs + 9n, never
    * O(n²)); core points are one degree aggregate (≥ 4 neighbors
    * EXCLUDING self — note the off-by-one vs |N_ε| ≥ minPts
    * formulations, mirrored in the oracle); clusters are min-label
    * propagation over the core-core graph run to convergence (the
    * graph_cc loop: per-round join + min-agg on the same key,
    * checkpointed, changed-count is coordinator metadata); border
    * points take the MIN label among their core neighbors (classical
    * DBSCAN leaves border assignment order-dependent — the min rule
    * makes it deterministic and engine-independent); everything else
    * is noise. Points are planted: 5 centers 10 000 apart, md5 jitter
    * in a 2 000 box — at the gate SF density makes ~all points core
    * and exactly 5 clusters emerge; at sf0.001 the same ε/minPts
    * yield all-noise (too sparse), which is itself correct DBSCAN
    * behavior. The oracle recomputes with a BRUTE-FORCE O(n²)
    * neighbor join + recursive-closure components — independent
    * algorithms at both steps, so the grid blocking and the label
    * loop are each proven lossless. */
  private def mlDbscan: Q = (s, d) => {
    val eps = 175L
    def jit(axis: String) = pmod(conv(substring(md5(concat_ws("_",
      lit(axis), col("id"))), 1, 8), 16, 10).cast("long"), lit(2000L))
    val pts = Scratch.table(s, Scratch.path("ml/dbscan_pts", d)) {
      t(s, d, "customer").select(col("c_custkey").as("id"))
        .withColumn("x", pmod(col("id"), lit(5)) * 10000L + jit("x"))
        .withColumn("y", jit("y"))
    }
    val build = pts.select(col("id"), col("x"), col("y"),
      expr(s"x div $eps").as("cx"), expr(s"y div $eps").as("cy"))
    val probe = pts.select(col("id").as("id2"), col("x").as("x2"),
        col("y").as("y2"),
        expr(s"""explode(flatten(transform(sequence(-1, 1), dx ->
             transform(sequence(-1, 1), dy ->
               struct((x div $eps) + dx AS cx, (y div $eps) + dy AS cy)))))""")
          .as("c"))
      .select(col("id2"), col("x2"), col("y2"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
    val nbr = Scratch.table(s, Scratch.path("ml/dbscan_nbr", d)) {
      build.join(probe, Seq("cx", "cy"))
        .where(col("id") =!= col("id2") &&
          greatest(abs(col("x") - col("x2")),
            abs(col("y") - col("y2"))) <= eps)
        .select(col("id"), col("id2"))
    }
    // core and the core-core edge list feed EVERY propagation round
    // (and the border pass): materialize once, like nbr, so rounds
    // re-read a parquet instead of re-running the degree aggregate.
    val core = Scratch.table(s, Scratch.path("ml/dbscan_core", d)) {
      nbr.groupBy("id").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= 4).select("id")
    }
    val ce = Scratch.table(s, Scratch.path("ml/dbscan_ce", d)) {
      nbr.join(core, Seq("id"))
        .join(core.select(col("id").as("id2")), Seq("id2"))
    }
    // CELL CONTRACTION before label propagation — the scale move: two
    // points in the same ε-wide cell are within ε by construction
    // (integer coords, max in-cell diff ε−1), so a cell's core points
    // are a clique and the whole cell collapses to ONE supernode. The
    // propagation loop then runs over O(occupied cells) rows — ~50×
    // smaller than the point graph here, data-extent-bounded at any
    // row count — with point labels recovered by a single join at the
    // end. Symmetric edges make the no-change exit sound: chg=0 ⇒
    // labels constant per cell component ⇒ every label is its
    // component's min core id.
    val cellOf = pts.select(col("id"),
      expr(s"x div $eps").as("kx"), expr(s"y div $eps").as("ky"))
    val coreCell = Scratch.table(s, Scratch.path("ml/dbscan_corecell", d)) {
      core.join(cellOf, Seq("id"))
    }
    val cellEdgesPath = Scratch.path("ml/dbscan_celledges", d)
    Scratch.table(s, cellEdgesPath) {
      ce.join(coreCell.select(col("id"), col("kx").as("ax"),
          col("ky").as("ay")), Seq("id"))
        .join(coreCell.select(col("id").as("id2"), col("kx").as("bx"),
          col("ky").as("by")), Seq("id2"))
        .select("ax", "ay", "bx", "by").distinct()
    }
    // 8-HOP EDGE CLOSURE before the loop: each propagation round is a
    // fixed job floor (join + checkpoint) over a kilobyte label table,
    // so ROUND COUNT is the whole cost — and 1-hop min-label
    // propagation needs O(cluster diameter in cells) rounds (~12 at
    // the gate fixture; 3 at 4 hops, 2 at 8). Squaring the symmetric
    // cell adjacency (E ∪ E², iterated) multiplies the hops per round:
    // same fixpoint (reachability unchanged — E⁸ ⊆ E*, and chg=0
    // still certifies per-component constancy because hop ⊇ E). Size
    // stays cell-bounded: ≤ (2·8+1)² = 289 neighbors per occupied
    // cell. One-time scratch artifact, like nbr and the cell edges.
    val hop = Scratch.tableCoalesced(s, Scratch.path("ml/dbscan_hop8", d)) { cs =>
      def sq(e: DataFrame): DataFrame = e.as("p")
        .join(e.as("q"),
          col("p.bx") === col("q.ax") && col("p.by") === col("q.ay"))
        .select(col("p.ax").as("ax"), col("p.ay").as("ay"),
          col("q.bx").as("bx"), col("q.by").as("by"))
        .unionByName(e).distinct()
      sq(sq(sq(cs.read.parquet(cellEdgesPath))))
    }
    // Min-label propagation on Graph.fixpoint: the changed-label count
    // rides each round's checkpoint write, and the loop stops at the
    // first round that lowers no label. Round 1 is sized by the core
    // point count, an upper bound on the occupied core cells.
    val labels = Graph.fixpoint(s, "dbscan", d,
        coreCell.groupBy("kx", "ky").agg(min(col("id")).as("lbl")),
        parquetRows(s, coreCell)) { (state, i) =>
      require(i <= 32, s"dbscan label propagation past 32 rounds on $d")
      val cur = state.select("kx", "ky", "lbl")
      // Both loop joins carry O(occupied cells) state — broadcast-hint
      // them so a round's only exchange is the tiny neighbor-min
      // groupBy (AQE would plan both as shuffle joins, and each extra
      // exchange is an extra per-round job — guide §2.4/§3.1; at scale
      // the label table is the rank-table analog and would shuffle,
      // but its volume is cell-bounded, not row-bounded).
      val prop = hop.join(broadcast(cur),
          col("ax") === col("kx") && col("ay") === col("ky"))
        .groupBy(col("bx"), col("by")).agg(min(col("lbl")).as("nlbl"))
      cur.join(broadcast(prop),
          col("kx") === col("bx") && col("ky") === col("by"), "left")
        .select(col("kx"), col("ky"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          (coalesce(col("nlbl"), col("lbl")) < col("lbl")).as("chg"))
    }(count_if(col("chg")).as("changed")) { (_, cur, _) => cur.getLong(1) == 0 }
      .state.select("kx", "ky", "lbl")
    val coreLab = coreCell.join(labels, Seq("kx", "ky"))
      .select(col("id").as("node"), col("lbl"))
    val borderLab = nbr
      .join(coreLab.select(col("node").as("id2"), col("lbl")), Seq("id2"))
      .join(core, Seq("id"), "left_anti")
      .groupBy("id").agg(min(col("lbl")).as("lbl"))
    val assigned = coreLab.select(col("node").as("id"), col("lbl"),
        lit(1L).as("is_core"))
      .unionByName(borderLab.select(col("id"), col("lbl"),
        lit(0L).as("is_core")))
    val summary = assigned.groupBy(col("lbl").as("cluster"))
      .agg(sum(col("is_core")).as("n_core"),
        sum(lit(1L) - col("is_core")).as("n_border"),
        count(lit(1)).as("n_pts"))
    val noise = pts.join(assigned.select("id"), Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_pts"))
      .select(lit(-1L).as("cluster"), lit(0L).as("n_core"),
        lit(0L).as("n_border"), col("n_pts"))
    summary.unionByName(noise).where(col("n_pts") > 0).orderBy("cluster")
  }

  /** Poisson(1) CDF thresholds on the 1e-6 grid (floor(P(X≤k)·10⁶) for
    * k = 0..8; literals pasted into BOTH engines so no cross-engine
    * float derivation exists). A row's bootstrap weight is the count of
    * thresholds ≤ its uniform draw — the inverse CDF as pure integer
    * comparisons. */
  private[graft] val poissonCdf1e6 = Seq(367879L, 735758L, 919698L,
    981011L, 996340L, 999405L, 999916L, 999989L, 999998L)

  /** POISSON BOOTSTRAP uncertainty estimation (Chamandy et al.,
    * "Estimating uncertainty for massive data streams" — the bootstrap
    * that actually runs on a cluster): resampling-with-replacement is
    * coordination-free when each row independently draws a Poisson(1)
    * multiplicity per replica, because Binomial(n, 1/n) → Poisson(1)
    * and no replica ever needs to know n. 32 replica means of the
    * kilodollar order total, each weight a DETERMINISTIC row property
    * (md5 of key‖replica → 1e6-grid uniform → integer inverse-CDF
    * lookup — rerun-identical, engine-identical, no RNG state). Scale
    * shape: the ×32 replica fan-out is map-side only — partial
    * aggregation collapses it to 32 rows per partition before anything
    * crosses the network, so the shuffle is O(32 × partitions)
    * regardless of data size; weighted sums are exact longs, ONE IEEE
    * division per replica at the end. The replica spread IS the
    * sampling distribution of the mean — PipelineSpec pins that the
    * true mean sits inside the replica range and that one replica
    * recomputes exactly driver-side. */
  private def sampleBootstrap: Q = (s, d) => {
    val y = floor(col("o_totalprice") / 1000.0d).cast("long").as("y")
    val base = t(s, d, "orders").select(col("o_orderkey"), y)
      .select(col("o_orderkey"), col("y"),
        explode(sequence(lit(0L), lit(31L))).as("replica"))
    val u = pmod(conv(substring(md5(concat_ws("_", col("o_orderkey"),
      col("replica"))), 1, 8), 16, 10).cast("long"), lit(1000000L))
    val w = poissonCdf1e6.map(c => (u >= c).cast("long")).reduce(_ + _)
    base.withColumn("w", w)
      .groupBy("replica")
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("y")).as("wsum"))
      .select(col("replica"), col("n_eff"), col("wsum"),
        (col("wsum").cast("double") / col("n_eff")).as("mean_kd"))
      .orderBy("replica")
  }

  /** Count-min sketch (d=3 rows × w=64 buckets) with EXACT
    * verification: per-part lineitem frequencies estimated from the
    * 192-cell sketch next to their true counts, for the top-20 true
    * keys. The sketch build is the 100 TB shape: ONE pre-aggregate per
    * key (the same shuffle any exact count needs at gate scale — on a
    * true stream the d hash-increments replace it), then the d
    * row-hashes explode over the O(keys) aggregate, never the raw
    * corpus, and the cell table is O(d·w) — mergeable across shards by
    * plain addition, the property that makes CMS a distributed sketch.
    * Estimate = min over rows of the hashed cell; CMS guarantees
    * est ≥ true, and the oracle recomputes the identical md5 cells, so
    * the error column is pinned exactly, not just bounded. */
  private def aggCms: Q = (s, d) => {
    val truec = t(s, d, "lineitem").groupBy("l_partkey")
      .agg(count(lit(1)).as("true_cnt"))
    val hashed = truec.select(col("l_partkey"), col("true_cnt"),
        explode(array((0 until 3).map(lit(_)): _*)).as("j"))
      .withColumn("bucket",
        pmod(conv(substring(md5(concat_ws("_", col("j"),
          col("l_partkey"))), 1, 8), 16, 10).cast("long"), lit(64L)))
    val cells = hashed.groupBy("j", "bucket")
      .agg(sum(col("true_cnt")).as("cell"))
    val top = truec.orderBy(col("true_cnt").desc, col("l_partkey")).limit(20)
    top.join(hashed.select(col("l_partkey"), col("j"), col("bucket")),
        "l_partkey")
      .join(broadcast(cells), Seq("j", "bucket"))
      .groupBy("l_partkey", "true_cnt")
      .agg(min(col("cell")).as("cms_est"))
      .select(col("l_partkey"), col("true_cnt"), col("cms_est"),
        (col("cms_est") - col("true_cnt")).as("overestimate"))
      .orderBy(col("true_cnt").desc, col("l_partkey"))
  }

  /** THETA/KMV SKETCH SET OPERATIONS (Beyer et al. '07; the Theta
    * sketch of Apache DataSketches): estimate |A|, |B|, |A∪B| and —
    * the operation HLL cannot do — |A∩B| between two corpora's shingle
    * sets from two 64-entry sketches. The corpus-overlap question
    * ("how much of snapshot B is already in snapshot A?") at 100 TB,
    * answered by moving 64 longs per corpus instead of the shingle
    * sets. KMV sketch = the k SMALLEST 52-bit md5 hashes of the
    * distinct shingles (52-bit so the bounded-heap aggregate's double
    * scores stay EXACT — the sample_weighted u52 discipline);
    * mergeable by construction (k smallest of a union = k smallest of
    * sketch union); ∩ via the theta rule: θ = min(kthA, kthB), est =
    * |{h < θ in both sketches}|·2⁵²/θ. Estimators are exact-integer
    * numerators with ONE IEEE division each — both engines emit
    * bit-identical doubles, so even the ESTIMATES are exact-hash
    * gated (the sketch is deterministic; only its error vs the truth
    * is statistical — observed ~1% on ∩, ~10% ≈ 1/√63 on the
    * unaries). Scale shape: distinct (corpus, shingle) is one
    * map-side-combined shuffle; the k-smallest run through the
    * [[graft.expr.TopKAgg]] bounded heap (≤ 64 pairs per corpus per
    * partition cross the wire); everything after runs on ≤ 128
    * entries. The EXACT truth columns (the dedup_minhash_recall
    * discipline) cost a full distinct + self-join — the expensive
    * plan the sketch replaces — so they sit behind the `audit`
    * argument (`true` for the registry key, so the gate-SF oracle
    * checks them): `audit = false` is the 100 TB plan — sketch-only,
    * one documents scan, no shingle self-join (PlanSpec pins both).
    * Assumes ≥ k distinct shingles per corpus (thousands at every gate
    * SF; below k the estimator degenerates to exact). Output: ONE
    * row. */
  private def aggTheta: Q = (s, d) => aggThetaPlan(s, d, audit = true)

  private[graft] def aggThetaPlan(
      s: org.apache.spark.sql.SparkSession, d: String,
      audit: Boolean): DataFrame = {
    val k = 64
    val scale = 1L << 52
    def dist = {
      val docs = t(s, d, "documents")
      docs.select(
        explode(expr("filter(array(CASE WHEN doc_id % 3 <> 0 THEN 'a' END," +
          " CASE WHEN doc_id % 2 = 0 THEN 'b' END), x -> x IS NOT NULL)"))
          .as("corpus"),
        explode(Llm.shingles(col("text"))).as("g"))
        .select("corpus", "g").distinct()
    }
    // Train-once artifact: in AUDIT mode the
    // three exact-truth legs below each re-derived the full
    // distinct-shingle sub-DAG — 3 corpus scans in the gate plan the
    // headline benches. Scratch the distinct ONCE and feed both the
    // sketch build and the truth legs from it, so even audit mode
    // scans the corpus exactly once (inside this build). Audit-off —
    // the registered 100 TB plan — never materializes it: the sketch
    // build keeps its single streaming pass and the query reads only
    // the ≤128-row sk table (PlanSpec pins both plans).
    val distSrc =
      if (audit) Scratch.table(s, Scratch.path("theta_dist", d))(dist)
      else dist
    // Train-once artifact (the minhashSigTable discipline): the raw
    // sketch build is the ONLY pass over the corpus — materialized to
    // a ≤128-row scratch table so the four estimator branches below
    // (each references sk twice) read 64-long parquet, not the corpus.
    // Without it each branch re-derived the full distinct-shingle
    // sub-DAG: 7 corpus scans where 100 TB affords exactly one.
    val sk = Scratch.table(s, Scratch.path("theta_sk", d)) {
      val hashed = distSrc.select(col("corpus"),
        conv(substring(md5(col("g")), 1, 13), 16, 10).cast("long").as("h"))
      hashed.groupBy("corpus")
        .agg(call_function("topk_pairs",
          negate(col("h").cast("double")), col("h"), lit(k)).as("top"))
        .select(col("corpus"), explode(col("top")).as("p"))
        .select(col("corpus"), col("p.id").as("h"))
    }
    val kv = sk.groupBy("corpus").agg(max("h").as("kth"))
    val kthA = kv.where(col("corpus") === "a").select("kth")
    val kthB = kv.where(col("corpus") === "b").select("kth")
    val unionKth = sk.select("h").distinct()
      .orderBy("h").limit(k).agg(max("h").as("kth"))
    val theta = kv.agg(min("kth").as("theta"))
    val interC = sk.where(col("corpus") === "a").select(col("h"))
      .join(sk.where(col("corpus") === "b").select(col("h")), "h")
      .crossJoin(broadcast(theta))
      .where(col("h") < col("theta"))
      .agg(count(lit(1)).as("c"))
      .crossJoin(theta)
    def est(kth: Column) = (lit((k - 1) * scale)).cast("double") / kth
    val ests = kthA.select(est(col("kth")).as("est_a"))
      .crossJoin(kthB.select(est(col("kth")).as("est_b")))
      .crossJoin(unionKth.select(est(col("kth")).as("est_union")))
      .crossJoin(interC.select(
        ((col("c") * scale).cast("double") / col("theta"))
          .as("est_inter")))
    if (!audit) ests
    else {
      val exactA = distSrc.where(col("corpus") === "a")
        .agg(count(lit(1)).as("na"))
      val exactB = distSrc.where(col("corpus") === "b")
        .agg(count(lit(1)).as("nb"))
      val exactI = distSrc.where(col("corpus") === "a").select("g")
        .join(distSrc.where(col("corpus") === "b").select("g"), "g")
        .agg(count(lit(1)).as("ni"))
      ests.crossJoin(exactA).crossJoin(exactB).crossJoin(exactI)
        .select(col("est_a"), col("est_b"), col("est_union"),
          col("est_inter"), col("na").as("exact_a"),
          col("nb").as("exact_b"), col("ni").as("exact_inter"))
    }
  }

  val queries: Map[String, Q] = Map(
    "agg_theta" -> aggTheta,
    "ml_linreg" -> mlLinreg,
    "ml_ridge" -> mlRidge,
    "ml_knn" -> mlKnn,
    "ml_naive_bayes" -> mlNaiveBayes,
    "ml_perceptron" -> mlPerceptron,
    "ml_stump" -> mlStump,
    "ml_dt2" -> mlDt2,
    "ml_boost" -> mlBoost,
    "ml_dbscan" -> mlDbscan,
    "sample_weighted" -> sampleWeighted,
    "sample_bootstrap" -> sampleBootstrap,
    "agg_cms" -> aggCms,
    "ml_kmeans" -> mlKmeans,
    "ml_pq" -> mlPq,
    "sim_ann_ivfpq" -> simAnnIvfpq,
    "ml_quality_classifier" -> mlQualityClassifier,
    "pipeline_corpus" -> pipelineCorpus,
    "text_chunk" -> textChunk,
    "text_tfidf" -> textTfidf,
    "corpus_shard" -> corpusShard,
    "tok_encode" -> tokEncode,
    "agg_heavy_hitters" -> aggHeavyHitters,
    "text_cooc" -> textCooc,
    "sample_hash" -> sampleHash,
    "sample_reservoir" -> sampleReservoir,
    "sample_stratified" -> sampleStratified,
    "data_mixture" -> dataMixture,
    "sample_temperature" -> sampleTemperature,
    "sample_dsir" -> sampleDsir,
    "sample_kcenter" -> sampleKcenter,
    "tok_wordpiece" -> tokWordpiece,
    "tok_unigram" -> tokUnigram,
    "pipeline_curate" -> pipelineCurate,
    "pack_sequences" -> packSequences,
    "pack_ffd" -> packFfd,
    "pipeline_dataset_card" -> pipelineDatasetCard,
    "tok_vocab" -> tokVocab,
    "tok_bpe" -> tokBpe,
    "sim_ann_ivf" -> simAnnIvf,
    "sim_ann_recall" -> simAnnRecall,
    "fn_sql_registry" -> fnSqlRegistry,
  )

  /** DuckDB twin of tokEncode's per-word encode: identical sentinel
    * rendering and the identical replace chain (RE2 `\1` backref vs
    * Java's `$1`; replace-all leftmost semantics agree). */
  private val duckEncodeWord: String =
    bpeMerges.foldLeft("""trim(regexp_replace(w, '(.)', '|\1|  ', 'g'))""") {
      case (c, (a, b, m)) => s"replace($c, '|$a|  |$b|', '|$m|')"
    }

  /** DuckDB twin of mlKmeans: the identical three Lloyd iterations
    * unrolled as CTEs — same integer micro-units, same argmin
    * tie-break (dist, cl), same positive floor division. */
  private def kmOracleIter(n: Int, centT: String): String =
    s"""d$n AS (SELECT a.vec_id, c.cl,
                 sum((a.pv - c.cv) * (a.pv - c.cv)) AS dist
          FROM (SELECT vec_id, unnest(p) AS pv,
                       generate_subscripts(p, 1) AS dim FROM pts) a
          JOIN (SELECT cl, unnest(p) AS cv,
                       generate_subscripts(p, 1) AS dim FROM $centT) c
            USING (dim)
          GROUP BY a.vec_id, c.cl),
        a$n AS (SELECT vec_id, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist, cl) AS rn FROM d$n) WHERE rn = 1),
        c$n AS (SELECT cl, list(s ORDER BY dim) AS p FROM (
                  SELECT j.cl, dim, (sum(v) // count(*))::BIGINT AS s
                  FROM (SELECT a$n.cl, unnest(pts.p) AS v,
                               generate_subscripts(pts.p, 1) AS dim
                        FROM pts JOIN a$n USING (vec_id)) j
                  GROUP BY j.cl, dim) GROUP BY cl)"""

  private def kmOracle: String =
    s"""WITH pts AS (SELECT vec_id,
             list_transform(embedding,
               x -> floor((x::DOUBLE + 1.0) * 1000000)::BIGINT) AS p
           FROM embeddings),
         c0 AS (SELECT vec_id AS cl, p FROM pts WHERE vec_id < 8),
         ${kmOracleIter(1, "c0")},
         ${kmOracleIter(2, "c1")},
         ${kmOracleIter(3, "c2")},
         fin AS (SELECT cl AS cluster, count(*) AS n,
                        sum(vec_id)::BIGINT AS id_digest
                 FROM a3 GROUP BY cl)
        SELECT fin.cluster, fin.n, fin.id_digest, c3.p[1] AS c0
        FROM fin JOIN c3 ON c3.cl = fin.cluster
        ORDER BY fin.cluster"""

  /** Cofactor-expansion determinant as a SQL expression over a matrix
    * of entry-expression strings — the DuckDB twin of the driver-side
    * BigInt Cramer solve (all arithmetic HUGEINT-exact). */
  private def detSql(m: Seq[Seq[String]]): String =
    if (m.length == 1) m.head.head
    else m.head.indices.map { j =>
      val minor = m.tail.map(r => r.indices.filterNot(_ == j).map(r))
      val sgn = if (j % 2 == 0) "+" else "-"
      s"$sgn (${m.head(j)}) * (${detSql(minor)})"
    }.mkString("(", " ", ")")

  /** det of the ridge Gram matrix with column `col` replaced by b
    * (col = -1 → the plain matrix). Entries reference CTE g. */
  private def qcDetSql(col: Int): String =
    detSql(Seq.tabulate(4, 4)((r, c) =>
      if (c == col) s"g.b$r" else s"g.a$r$c"))

  val oracles: Map[String, String] = Map(
    // Independent at BOTH algorithmic steps: brute-force O(n²)
    // neighbor join (proves the grid blocking lossless) and a
    // recursive transitive closure (proves the label loop converged
    // to true components).
    "ml_dbscan" ->
      """WITH RECURSIVE
           pts AS (SELECT c_custkey AS id,
                          (c_custkey % 5) * 10000
                            + ('0x' || substr(md5('x_' || c_custkey::VARCHAR),
                               1, 8))::BIGINT % 2000 AS x,
                          ('0x' || substr(md5('y_' || c_custkey::VARCHAR),
                            1, 8))::BIGINT % 2000 AS y
                   FROM customer),
           nbr AS (SELECT a.id, b.id AS id2 FROM pts a JOIN pts b
                   ON a.id <> b.id
                  AND greatest(abs(a.x - b.x), abs(a.y - b.y)) <= 175),
           core AS (SELECT id FROM nbr GROUP BY id
                    HAVING count(*) >= 4),
           ce AS (SELECT n.id, n.id2 FROM nbr n
                  JOIN core a ON a.id = n.id
                  JOIN core b ON b.id = n.id2),
           reach(a, b) AS (
             SELECT id, id2 FROM ce
             UNION
             SELECT r.a, e.id2 FROM reach r JOIN ce e ON r.b = e.id),
           clab AS (SELECT c.id,
                           coalesce(least(c.id, m.mb), c.id) AS lbl
                    FROM core c LEFT JOIN
                      (SELECT a, min(b) AS mb FROM reach GROUP BY a) m
                      ON m.a = c.id),
           blab AS (SELECT n.id, min(cl.lbl) AS lbl
                    FROM nbr n JOIN clab cl ON cl.id = n.id2
                    WHERE n.id NOT IN (SELECT id FROM core)
                    GROUP BY n.id),
           assigned AS (
             SELECT id, lbl, 1 AS is_core FROM clab
             UNION ALL SELECT id, lbl, 0 FROM blab),
           summary AS (
             SELECT lbl AS cluster, sum(is_core)::BIGINT AS n_core,
                    sum(1 - is_core)::BIGINT AS n_border,
                    count(*)::BIGINT AS n_pts
             FROM assigned GROUP BY lbl),
           noise AS (
             SELECT -1::BIGINT AS cluster, 0::BIGINT AS n_core,
                    0::BIGINT AS n_border, count(*)::BIGINT AS n_pts
             FROM pts WHERE id NOT IN (SELECT id FROM assigned))
         SELECT * FROM summary
         UNION ALL SELECT * FROM noise WHERE n_pts > 0
         ORDER BY cluster""",
    // Identical integer micro-units, identical (dist, vec_id) neighbor
    // and (votes desc, label) vote tie-breaks; distances narrowed back
    // to BIGINT (DuckDB sums BIGINT into HUGEINT).
    "ml_knn" ->
      """WITH v AS MATERIALIZED (
           SELECT vec_id, i, CAST(floor(e*1e6+0.5) AS BIGINT) AS qv
           FROM (SELECT vec_id, unnest(embedding) AS e,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings)),
         m AS (SELECT vec_id, label FROM embeddings),
         dist AS MATERIALIZED (
           SELECT p.vec_id AS probe_id, b.vec_id,
                  CAST(sum((b.qv - p.qv) * (b.qv - p.qv)) AS BIGINT) AS dist
           FROM v p JOIN v b ON b.i = p.i
           WHERE p.vec_id % 10 = 0 AND p.vec_id < 1000
             AND (b.vec_id % 10 <> 0 OR b.vec_id >= 1000)
           GROUP BY p.vec_id, b.vec_id),
         nn AS (SELECT probe_id, vec_id, dist,
                  row_number() OVER (PARTITION BY probe_id
                                     ORDER BY dist, vec_id) AS rn
                FROM dist),
         votes AS (SELECT probe_id, m.label,
                     count(*)::BIGINT AS n_votes, min(dist) AS best_dist
                   FROM nn JOIN m USING (vec_id) WHERE rn <= 5
                   GROUP BY probe_id, m.label),
         pick AS (SELECT probe_id, label AS pred_label, n_votes, best_dist,
                    row_number() OVER (PARTITION BY probe_id
                                       ORDER BY n_votes DESC, label) AS vr
                  FROM votes)
         SELECT probe_id, m.label AS true_label, pred_label, n_votes,
                best_dist, pred_label = m.label AS correct
         FROM pick JOIN m ON m.vec_id = pick.probe_id
         WHERE vr = 1 ORDER BY probe_id""",
    // Identical integer micro-units and the identical unrolled
    // 3-round recurrence: w0 = 0 puts every vector in M0 (y*0 <= 0),
    // so d1 sums over ALL rows; rounds 2-3 re-score with the previous
    // w (HUGEINT dots, narrowed back to BIGINT at the output). i is
    // 1-based from generate_subscripts -> dim = i - 1 matches
    // posexplode's 0-based pos.
    "ml_perceptron" ->
      """WITH v AS MATERIALIZED (
           SELECT vec_id, CASE WHEN label >= 5 THEN 1 ELSE -1 END AS y,
                  i, CAST(floor(e*1e6+0.5) AS BIGINT) AS q
           FROM (SELECT vec_id, label, unnest(embedding) AS e,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings)),
         w1 AS MATERIALIZED (
           SELECT i, sum(y * q) AS w FROM v GROUP BY i),
         s2 AS MATERIALIZED (
           SELECT v.vec_id, min(v.y) AS y, sum(v.q * w1.w) AS sc
           FROM v JOIN w1 USING (i) GROUP BY v.vec_id),
         w2 AS MATERIALIZED (
           SELECT w1.i, w1.w + coalesce(u.dw, 0) AS w
           FROM w1 LEFT JOIN (
             SELECT v.i, sum(v.y * v.q) AS dw
             FROM v JOIN (SELECT vec_id FROM s2 WHERE y * sc <= 0) m
               USING (vec_id)
             GROUP BY v.i) u ON w1.i = u.i),
         s3 AS MATERIALIZED (
           SELECT v.vec_id, min(v.y) AS y, sum(v.q * w2.w) AS sc
           FROM v JOIN w2 USING (i) GROUP BY v.vec_id),
         w3 AS MATERIALIZED (
           SELECT w2.i, w2.w + coalesce(u.dw, 0) AS w
           FROM w2 LEFT JOIN (
             SELECT v.i, sum(v.y * v.q) AS dw
             FROM v JOIN (SELECT vec_id FROM s3 WHERE y * sc <= 0) m
               USING (vec_id)
             GROUP BY v.i) u ON w2.i = u.i)
         SELECT CAST(w1.i - 1 AS BIGINT) AS dim,
                CAST(w1.w AS BIGINT) AS w_r1,
                CAST(w2.w AS BIGINT) AS w_r2,
                CAST(w3.w AS BIGINT) AS w_r3
         FROM w1 JOIN w2 ON w1.i = w2.i JOIN w3 ON w1.i = w3.i
         ORDER BY dim""",
    // Same 1e-6 grid, same 16 fixed buckets, same dense-grid prefix
    // sums and the identical (correct DESC, split ASC) tie-break.
    "ml_stump" ->
      """WITH v AS MATERIALIZED (
           SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
                  CAST(i - 1 AS BIGINT) AS j,
                  (CAST(floor(e*1e6+0.5) AS BIGINT) + 1000000) // 125000
                    AS b
           FROM (SELECT label, unnest(embedding) AS e,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings)),
         grid AS (SELECT j.j, b.b
                  FROM (SELECT unnest(range(0, 64)) AS j) j,
                       (SELECT unnest(range(0, 16)) AS b) b),
         h AS (SELECT g.j, g.b,
                      coalesce(sum(v.y), 0)::BIGINT AS pos,
                      count(v.y)::BIGINT AS tot
               FROM grid g LEFT JOIN v ON v.j = g.j AND v.b = g.b
               GROUP BY 1, 2),
         p AS (SELECT j, b,
                      sum(pos) OVER (PARTITION BY j ORDER BY b) AS pos_l,
                      sum(tot) OVER (PARTITION BY j ORDER BY b) AS tot_l,
                      sum(pos) OVER (PARTITION BY j) AS n_pos,
                      sum(tot) OVER (PARTITION BY j) AS n_tot
               FROM h),
         c AS (SELECT j AS dim, b AS split,
                      pos_l, tot_l - pos_l AS neg_l,
                      n_pos - pos_l AS pos_r,
                      (n_tot - n_pos) - (tot_l - pos_l) AS neg_r
               FROM p WHERE b <= 14),
         r AS (SELECT dim, split, pos_l, neg_l, pos_r, neg_r,
                      greatest(pos_l, neg_l) + greatest(pos_r, neg_r)
                        AS correct,
                      row_number() OVER (PARTITION BY dim
                        ORDER BY greatest(pos_l, neg_l)
                          + greatest(pos_r, neg_r) DESC, split) AS rn
               FROM c)
         SELECT CAST(dim AS BIGINT) AS dim,
                CAST(split AS BIGINT) AS split,
                CAST(pos_l AS BIGINT) AS pos_l,
                CAST(neg_l AS BIGINT) AS neg_l,
                CAST(pos_r AS BIGINT) AS pos_r,
                CAST(neg_r AS BIGINT) AS neg_r,
                CAST(correct AS BIGINT) AS correct
         FROM r WHERE rn = 1 ORDER BY dim""",
    // Same grid/tie-break discipline as ml_stump, grown one level. The
    // oracle routes level 2 through a vec_id JOIN to a leaf table while
    // the engine recomputes each row's leaf from the collected root
    // literal — independent algorithms for the same tree.
    "ml_dt2" ->
      """WITH v AS MATERIALIZED (
           SELECT vec_id,
                  CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
                  CAST(i - 1 AS BIGINT) AS j,
                  (CAST(floor(e*1e6+0.5) AS BIGINT) + 1000000) // 125000
                    AS b
           FROM (SELECT vec_id, label, unnest(embedding) AS e,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings)),
         grid AS (SELECT j.j, b.b
                  FROM (SELECT unnest(range(0, 64)) AS j) j,
                       (SELECT unnest(range(0, 16)) AS b) b),
         h AS (SELECT g.j, g.b,
                      coalesce(sum(v.y), 0)::BIGINT AS pos,
                      count(v.y)::BIGINT AS tot
               FROM grid g LEFT JOIN v ON v.j = g.j AND v.b = g.b
               GROUP BY 1, 2),
         p AS (SELECT j, b,
                      sum(pos) OVER (PARTITION BY j ORDER BY b) AS pos_l,
                      sum(tot) OVER (PARTITION BY j ORDER BY b) AS tot_l,
                      sum(pos) OVER (PARTITION BY j) AS n_pos,
                      sum(tot) OVER (PARTITION BY j) AS n_tot
               FROM h),
         c AS (SELECT j AS dim, b AS split,
                      pos_l, tot_l - pos_l AS neg_l,
                      n_pos - pos_l AS pos_r,
                      (n_tot - n_pos) - (tot_l - pos_l) AS neg_r
               FROM p WHERE b <= 14),
         root AS (SELECT dim, split, pos_l, neg_l, pos_r, neg_r,
                         greatest(pos_l, neg_l) + greatest(pos_r, neg_r)
                           AS correct
                  FROM c
                  ORDER BY greatest(pos_l, neg_l)
                    + greatest(pos_r, neg_r) DESC, dim, split
                  LIMIT 1),
         lf AS (SELECT v.vec_id,
                       CASE WHEN v.b <= root.split THEN 1 ELSE 2 END
                         AS node
                FROM v, root WHERE v.j = root.dim),
         v2 AS (SELECT lf.node, v.y, v.j, v.b
                FROM v JOIN lf USING (vec_id)),
         grid2 AS (SELECT n.node, g.j, g.b
                   FROM (SELECT unnest(range(1, 3)) AS node) n, grid g),
         h2 AS (SELECT g.node, g.j, g.b,
                       coalesce(sum(v2.y), 0)::BIGINT AS pos,
                       count(v2.y)::BIGINT AS tot
                FROM grid2 g LEFT JOIN v2
                  ON v2.node = g.node AND v2.j = g.j AND v2.b = g.b
                GROUP BY 1, 2, 3),
         p2 AS (SELECT node, j, b,
                       sum(pos) OVER (PARTITION BY node, j ORDER BY b)
                         AS pos_l,
                       sum(tot) OVER (PARTITION BY node, j ORDER BY b)
                         AS tot_l,
                       sum(pos) OVER (PARTITION BY node, j) AS n_pos,
                       sum(tot) OVER (PARTITION BY node, j) AS n_tot
                FROM h2),
         c2 AS (SELECT node, j AS dim, b AS split,
                       pos_l, tot_l - pos_l AS neg_l,
                       n_pos - pos_l AS pos_r,
                       (n_tot - n_pos) - (tot_l - pos_l) AS neg_r
                FROM p2 WHERE b <= 14),
         r2 AS (SELECT node, dim, split, pos_l, neg_l, pos_r, neg_r,
                       greatest(pos_l, neg_l) + greatest(pos_r, neg_r)
                         AS correct,
                       row_number() OVER (PARTITION BY node
                         ORDER BY greatest(pos_l, neg_l)
                           + greatest(pos_r, neg_r) DESC, dim, split)
                         AS rn
                FROM c2)
         SELECT CAST(0 AS BIGINT) AS node, CAST(dim AS BIGINT) AS dim,
                CAST(split AS BIGINT) AS split,
                CAST(pos_l AS BIGINT) AS pos_l,
                CAST(neg_l AS BIGINT) AS neg_l,
                CAST(pos_r AS BIGINT) AS pos_r,
                CAST(neg_r AS BIGINT) AS neg_r,
                CAST(correct AS BIGINT) AS correct
         FROM root
         UNION ALL
         SELECT CAST(node AS BIGINT), CAST(dim AS BIGINT),
                CAST(split AS BIGINT), CAST(pos_l AS BIGINT),
                CAST(neg_l AS BIGINT), CAST(pos_r AS BIGINT),
                CAST(neg_r AS BIGINT), CAST(correct AS BIGINT)
         FROM r2 WHERE rn = 1
         ORDER BY node""",
    // Same grid, tie-break, and ×3 integer reweighting; the oracle
    // derives per-vector weights through a vec_id JOIN to the root's
    // leaf predictions while the engine recomputes them per row from
    // collected literals — independent routes to the same weights.
    "ml_boost" ->
      """WITH v AS MATERIALIZED (
           SELECT vec_id,
                  CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
                  CAST(i - 1 AS BIGINT) AS j,
                  (CAST(floor(e*1e6+0.5) AS BIGINT) + 1000000) // 125000
                    AS b
           FROM (SELECT vec_id, label, unnest(embedding) AS e,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings)),
         grid AS (SELECT j.j, b.b
                  FROM (SELECT unnest(range(0, 64)) AS j) j,
                       (SELECT unnest(range(0, 16)) AS b) b),
         h AS (SELECT g.j, g.b,
                      coalesce(sum(v.y), 0)::BIGINT AS pos,
                      count(v.y)::BIGINT AS tot
               FROM grid g LEFT JOIN v ON v.j = g.j AND v.b = g.b
               GROUP BY 1, 2),
         p AS (SELECT j, b,
                      sum(pos) OVER (PARTITION BY j ORDER BY b) AS pos_l,
                      sum(tot) OVER (PARTITION BY j ORDER BY b) AS tot_l,
                      sum(pos) OVER (PARTITION BY j) AS n_pos,
                      sum(tot) OVER (PARTITION BY j) AS n_tot
               FROM h),
         c AS (SELECT j AS dim, b AS split,
                      pos_l, tot_l - pos_l AS neg_l,
                      n_pos - pos_l AS pos_r,
                      (n_tot - n_pos) - (tot_l - pos_l) AS neg_r
               FROM p WHERE b <= 14),
         root AS (SELECT dim, split, pos_l, neg_l, pos_r, neg_r,
                         greatest(pos_l, neg_l) + greatest(pos_r, neg_r)
                           AS correct,
                         CASE WHEN pos_l > neg_l THEN 1 ELSE 0 END
                           AS pred_l,
                         CASE WHEN pos_r > neg_r THEN 1 ELSE 0 END
                           AS pred_r
                  FROM c
                  ORDER BY greatest(pos_l, neg_l)
                    + greatest(pos_r, neg_r) DESC, dim, split
                  LIMIT 1),
         wt AS (SELECT v.vec_id,
                       CASE WHEN (CASE WHEN v.b <= root.split
                                       THEN root.pred_l
                                       ELSE root.pred_r END)
                                 <> v.y THEN 3 ELSE 1 END AS w
                FROM v, root WHERE v.j = root.dim),
         v2 AS (SELECT v.y, v.j, v.b, wt.w
                FROM v JOIN wt USING (vec_id)),
         h2 AS (SELECT g.j, g.b,
                       coalesce(sum(v2.w * v2.y), 0)::BIGINT AS pos,
                       coalesce(sum(v2.w), 0)::BIGINT AS tot
                FROM grid g LEFT JOIN v2 ON v2.j = g.j AND v2.b = g.b
                GROUP BY 1, 2),
         p2 AS (SELECT j, b,
                       sum(pos) OVER (PARTITION BY j ORDER BY b)
                         AS pos_l,
                       sum(tot) OVER (PARTITION BY j ORDER BY b)
                         AS tot_l,
                       sum(pos) OVER (PARTITION BY j) AS n_pos,
                       sum(tot) OVER (PARTITION BY j) AS n_tot
                FROM h2),
         c2 AS (SELECT j AS dim, b AS split,
                       pos_l, tot_l - pos_l AS neg_l,
                       n_pos - pos_l AS pos_r,
                       (n_tot - n_pos) - (tot_l - pos_l) AS neg_r
                FROM p2 WHERE b <= 14),
         r2 AS (SELECT dim, split, pos_l, neg_l, pos_r, neg_r,
                       greatest(pos_l, neg_l) + greatest(pos_r, neg_r)
                         AS correct
                FROM c2
                ORDER BY greatest(pos_l, neg_l)
                  + greatest(pos_r, neg_r) DESC, dim, split
                LIMIT 1)
         SELECT CAST(1 AS BIGINT) AS round, CAST(dim AS BIGINT) AS dim,
                CAST(split AS BIGINT) AS split,
                CAST(pos_l AS BIGINT) AS wpos_l,
                CAST(neg_l AS BIGINT) AS wneg_l,
                CAST(pos_r AS BIGINT) AS wpos_r,
                CAST(neg_r AS BIGINT) AS wneg_r,
                CAST(correct AS BIGINT) AS wcorrect
         FROM root
         UNION ALL
         SELECT CAST(2 AS BIGINT), CAST(dim AS BIGINT),
                CAST(split AS BIGINT), CAST(pos_l AS BIGINT),
                CAST(neg_l AS BIGINT), CAST(pos_r AS BIGINT),
                CAST(neg_r AS BIGINT), CAST(correct AS BIGINT)
         FROM r2
         ORDER BY round""",
    // Same exact integer counts (c, n, V, priors), same one-division-
    // per-ln chains, same 1e-6 grid on the per-doc sums, same fixed
    // language-precedence argmax over the ROUNDED scores.
    "ml_naive_bayes" -> {
      val langs = Seq("en", "de", "es", "fr", "zh")
      def sumLang(l: String, as: String) =
        s"sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END)::BIGINT AS $as"
      val modelCols = langs.map(l => sumLang(l, s"c_$l")).mkString(", ")
      val totCols = langs.map(l => sumLang(l, s"n_$l")).mkString(", ")
      val priCols = langs.map(l => sumLang(l, s"d_$l")).mkString(", ")
      val llCols = langs.map(l =>
        s"sum(ln((coalesce(c_$l, 0) + 1)::DOUBLE / (n_$l + v)::DOUBLE)) AS ll_$l")
        .mkString(", ")
      val sCols = langs.map(l =>
        s"round(ll_$l + ln(d_$l::DOUBLE / nd::DOUBLE), 6) AS s_$l")
        .mkString(", ")
      val pred =
        """CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
                     AND s_en >= s_zh THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END"""
      s"""WITH tk AS MATERIALIZED (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents),
          tr AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
          model AS MATERIALIZED (
            SELECT tok, $modelCols FROM tr GROUP BY tok),
          tot AS (SELECT count(DISTINCT tok)::BIGINT AS v, $totCols FROM tr),
          pri AS (SELECT count(*)::BIGINT AS nd, $priCols
                  FROM documents WHERE doc_id % 2 = 0),
          te AS (SELECT * FROM tk WHERE doc_id % 2 = 1),
          inst AS (SELECT te.doc_id, te.lang,
                     ${langs.map(l => s"c_$l").mkString(", ")}
                   FROM te LEFT JOIN model USING (tok)),
          sc AS (SELECT doc_id, lang, $llCols
                 FROM inst CROSS JOIN tot GROUP BY doc_id, lang),
          g AS (SELECT doc_id, lang AS true_lang, $sCols
                FROM sc CROSS JOIN pri)
          SELECT doc_id, true_lang, $pred AS pred_lang,
                 greatest(s_en, s_de, s_es, s_fr, s_zh) AS best_score,
                 ($pred) = true_lang AS correct
          FROM g ORDER BY doc_id"""
    },
    // Same ten integer power sums; Cramer / SSE chains mirrored
    // parenthesis-for-parenthesis; every cast from BIGINT.
    "ml_ridge" ->
      """WITH li AS (
           SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x1,
                  (l_discount::DECIMAL(18,4) * 100)::BIGINT AS x2,
                  floor(l_extendedprice / 1000.0)::BIGINT AS y
           FROM lineitem),
         s AS (
           SELECT l_returnflag, count(*)::BIGINT AS n,
                  CAST(sum(x1) AS BIGINT) AS s1,
                  CAST(sum(x2) AS BIGINT) AS s2,
                  CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x1 * x1) AS BIGINT) AS s11,
                  CAST(sum(x2 * x2) AS BIGINT) AS s22,
                  CAST(sum(x1 * x2) AS BIGINT) AS s12,
                  CAST(sum(x1 * y) AS BIGINT) AS s1y,
                  CAST(sum(x2 * y) AS BIGINT) AS s2y,
                  CAST(sum(y * y) AS BIGINT) AS syy
           FROM li GROUP BY 1),
         m AS (
           SELECT l_returnflag, n, s11, s22, syy,
                  n::DOUBLE AS a, s1::DOUBLE AS b, s2::DOUBLE AS c,
                  s11::DOUBLE + 10.0 AS dd, s12::DOUBLE AS e,
                  s22::DOUBLE + 10.0 AS f,
                  sy::DOUBLE AS p, s1y::DOUBLE AS q, s2y::DOUBLE AS r
           FROM s),
         k AS (
           SELECT *, dd * f - e * e AS cof1, b * f - e * c AS cof2,
                  b * e - dd * c AS cof3,
                  q * f - e * r AS t1, q * e - dd * r AS t2,
                  b * r - q * c AS t3, dd * r - q * e AS t4
           FROM m),
         dt AS (SELECT *, a * cof1 - b * cof2 + c * cof3 AS det FROM k),
         bs AS (
           SELECT *, (p * cof1 - b * t1 + c * t2) / det AS b0,
                  (a * t1 - p * cof2 + c * t3) / det AS b1,
                  (a * t4 - b * t3 + p * cof3) / det AS b2
           FROM dt),
         fin AS (
           SELECT *, b0 * p + b1 * q + b2 * r AS lin,
                  b0 * b0 * a + b1 * b1 * s11::DOUBLE
                    + b2 * b2 * s22::DOUBLE
                    + 2.0 * b0 * b1 * b + 2.0 * b0 * b2 * c
                    + 2.0 * b1 * b2 * e AS quad
           FROM bs)
         SELECT l_returnflag, n, 10.0::DOUBLE AS lambda, b0, b1, b2,
                syy::DOUBLE - 2.0 * lin + quad AS sse
         FROM fin ORDER BY l_returnflag""",
    "ml_linreg" ->
      s"""WITH o AS (SELECT o_custkey,
                            (${duckUsS("o_orderdate")} - 788918400) // 86400
                              AS x,
                            floor(o_totalprice / 1000.0)::BIGINT AS y
                     FROM orders),
           cn AS (SELECT c_custkey, n_name FROM customer
                  JOIN nation ON c_nationkey = n_nationkey),
           s AS (SELECT n_name, count(*)::BIGINT AS n,
                        sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                        sum(x * x)::BIGINT AS sxx,
                        sum(x * y)::BIGINT AS sxy,
                        sum(y * y)::BIGINT AS syy
                 FROM o JOIN cn ON o_custkey = c_custkey GROUP BY n_name)
         SELECT n_name, n, sx, sy, sxx, sxy, syy,
                CASE WHEN n * sxx - sx * sx > 0 THEN
                  (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
                END AS slope,
                CASE WHEN n * sxx - sx * sx > 0 THEN
                  sy::DOUBLE / n -
                  ((n * sxy - sx * sy)::DOUBLE
                    / (n * sxx - sx * sx)::DOUBLE) * (sx::DOUBLE / n)
                END AS intercept,
                CASE WHEN n * sxx - sx * sx > 0
                      AND n * syy - sy * sy > 0 THEN
                  (n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE /
                  ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE)
                END AS r2
         FROM s ORDER BY n_name""",
    "sample_bootstrap" ->
      """WITH base AS (
           SELECT o_orderkey, floor(o_totalprice / 1000.0)::BIGINT AS y,
                  r.replica
           FROM orders, (SELECT unnest(range(0, 32)) AS replica) r),
         d AS (SELECT replica, y,
                      ('0x' || substr(md5(o_orderkey::VARCHAR || '_'
                        || replica::VARCHAR), 1, 8))::BIGINT % 1000000 AS u
               FROM base),
         w AS (SELECT replica, y,
                      ((u >= 367879)::BIGINT + (u >= 735758)::BIGINT
                       + (u >= 919698)::BIGINT + (u >= 981011)::BIGINT
                       + (u >= 996340)::BIGINT + (u >= 999405)::BIGINT
                       + (u >= 999916)::BIGINT + (u >= 999989)::BIGINT
                       + (u >= 999998)::BIGINT) AS w
               FROM d),
         s AS (SELECT replica, sum(w)::BIGINT AS n_eff,
                      sum(w * y)::BIGINT AS wsum
               FROM w GROUP BY replica)
         SELECT replica, n_eff, wsum, wsum::DOUBLE / n_eff AS mean_kd
         FROM s ORDER BY replica""",
    "sample_weighted" ->
      """SELECT o_orderkey,
                (o_totalprice::DECIMAL(18,4) * 100)::BIGINT AS w_cents,
                ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 13))::BIGINT
                  AS u52,
                ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 13))::BIGINT
                  // (o_totalprice::DECIMAL(18,4) * 100)::BIGINT AS priority
         FROM orders
         ORDER BY priority, o_orderkey LIMIT 50""",
    "agg_cms" ->
      """WITH truec AS (SELECT l_partkey, count(*)::BIGINT AS true_cnt
                        FROM lineitem GROUP BY 1),
           hashed AS (SELECT l_partkey, true_cnt, j,
                             ('0x' || substr(md5(j::VARCHAR || '_' ||
                               l_partkey::VARCHAR), 1, 8))::BIGINT % 64
                               AS bucket
                      FROM truec, (SELECT unnest([0, 1, 2]) AS j)),
           cells AS (SELECT j, bucket, sum(true_cnt)::BIGINT AS cell
                     FROM hashed GROUP BY 1, 2),
           top AS (SELECT l_partkey, true_cnt FROM truec
                   ORDER BY true_cnt DESC, l_partkey LIMIT 20)
         SELECT t.l_partkey, t.true_cnt, min(c.cell)::BIGINT AS cms_est,
                (min(c.cell) - t.true_cnt)::BIGINT AS overestimate
         FROM top t JOIN hashed h ON h.l_partkey = t.l_partkey
              JOIN cells c ON c.j = h.j AND c.bucket = h.bucket
         GROUP BY t.l_partkey, t.true_cnt
         ORDER BY t.true_cnt DESC, t.l_partkey""",
    // Same 52-bit md5 hash, same k-smallest sketches, same theta rule;
    // shingles via the repo's padded slice idiom (clamped t[j:j+2]
    // matches the engine's concat_ws null-skip on short docs). Each
    // estimate is an exact-integer numerator with ONE IEEE division.
    "agg_theta" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
           sh AS (SELECT DISTINCT doc_id,
                         array_to_string(t[j:j+2], ' ') AS g
                  FROM tk,
                       unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(j)),
           corp AS (SELECT 'a' AS corpus, g FROM sh WHERE doc_id % 3 <> 0
                    UNION ALL
                    SELECT 'b', g FROM sh WHERE doc_id % 2 = 0),
           dist AS (SELECT DISTINCT corpus, g FROM corp),
           hashed AS (SELECT corpus,
                             ('0x' || substr(md5(g), 1, 13))::BIGINT AS h
                      FROM dist),
           ranked AS (SELECT corpus, h, row_number() OVER
                        (PARTITION BY corpus ORDER BY h) AS rn
                      FROM hashed),
           sk AS (SELECT corpus, h FROM ranked WHERE rn <= 64),
           kv AS (SELECT corpus, max(h) AS kth FROM sk GROUP BY corpus),
           mu AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
                  FROM (SELECT DISTINCT h FROM sk)),
           ukv AS (SELECT max(h) AS kth FROM mu WHERE rn <= 64),
           th AS (SELECT min(kth) AS theta FROM kv),
           inter AS (SELECT count(*) AS c
                     FROM (SELECT h FROM sk WHERE corpus = 'a') a
                     JOIN (SELECT h FROM sk WHERE corpus = 'b') b
                       USING (h), th
                     WHERE h < th.theta)
         SELECT
           CAST(283726776524341248 AS DOUBLE) /
             (SELECT kth FROM kv WHERE corpus = 'a') AS est_a,
           CAST(283726776524341248 AS DOUBLE) /
             (SELECT kth FROM kv WHERE corpus = 'b') AS est_b,
           CAST(283726776524341248 AS DOUBLE) /
             (SELECT kth FROM ukv) AS est_union,
           CAST((SELECT c FROM inter) * 4503599627370496 AS DOUBLE) /
             (SELECT theta FROM th) AS est_inter,
           (SELECT count(*) FROM dist WHERE corpus = 'a')::BIGINT
             AS exact_a,
           (SELECT count(*) FROM dist WHERE corpus = 'b')::BIGINT
             AS exact_b,
           (SELECT count(*) FROM
              (SELECT g FROM dist WHERE corpus = 'a'
               INTERSECT
               SELECT g FROM dist WHERE corpus = 'b'))::BIGINT
             AS exact_inter""",
    "ml_kmeans" -> kmOracle,
    // The identical closed-form probe re-derived independently: same
    // integer features (the hash-verified text_score fragments), same
    // weak label, Gram/response sums in HUGEINT, the ridge +1
    // diagonal, and explicit 4x4 cofactor expansions for the SAME
    // Cramer determinants the driver computes in BigInt; prediction is
    // the sign of the identical exact integer dot product.
    "ml_quality_classifier" -> {
      val gram = (for { i <- 0 until 4; j <- 0 until 4 } yield
        if (i == j) s"sum(x$i*x$j) + 1 AS a$i$j"
        else s"sum(x$i*x$j) AS a$i$j") ++
        (0 until 4).map(i => s"sum(y*x$i) AS b$i")
      val wSel = (0 until 4).map(i => s"(${qcDetSql(i)}) AS c$i")
        .mkString(", ")
      val wSign = (0 until 4)
        .map(i => s"CASE WHEN dd < 0 THEN -c$i ELSE c$i END AS w$i")
        .mkString(", ")
      s"""WITH f AS (
            SELECT doc_id, 1::BIGINT AS x0,
                   len(list_filter(string_split(text, ' '),
                       x -> x IN ('the','a','of','and','to')))::BIGINT AS x1,
                   len(string_split(text, ' '))::BIGINT AS x2,
                   least(length(text), 500)::BIGINT AS x3
            FROM documents),
          fy AS (SELECT *,
                   (CASE WHEN (600*x1 + 3*x3)::DOUBLE / x2::DOUBLE >= 50.0
                         THEN 1 ELSE -1 END)::BIGINT AS y
                 FROM f),
          g AS (SELECT ${gram.mkString(", ")}
                FROM fy WHERE doc_id % 2 = 0),
          dets AS (SELECT (${qcDetSql(-1)}) AS dd, $wSel FROM g),
          ws AS (SELECT $wSign FROM dets),
          conf AS (SELECT 'confusion' AS metric, y AS k1,
                          (CASE WHEN ws.w0*x0 + ws.w1*x1 + ws.w2*x2
                                     + ws.w3*x3 > 0
                                THEN 1 ELSE -1 END)::BIGINT AS k2,
                          count(*)::BIGINT AS n
                   FROM fy, ws GROUP BY 1, 2, 3),
          signs AS (SELECT 'weight_sign' AS metric, i::BIGINT AS k1,
                           0::BIGINT AS k2,
                           sign(CASE i WHEN 0 THEN w0 WHEN 1 THEN w1
                                       WHEN 2 THEN w2 ELSE w3 END)::BIGINT AS n
                    FROM ws, range(0, 4) t(i))
          SELECT * FROM conf UNION ALL SELECT * FROM signs
          ORDER BY metric, k1, k2"""
    },
    // IDENTICAL integer pipeline in DuckDB: micro-unit conversion,
    // per-subspace exact squared-L2, (dist, cid) argmin encode, ADC
    // table-lookup sum, (adist, vec_id) top-10. dist is internally
    // HUGEINT (sum of BIGINT) — only the BIGINT-cast adist is output.
    // The two parent chains (IVF cells, PQ codes) composed with the
    // identical candidate restriction and table-lookup scoring.
    "sim_ann_ivfpq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           c AS (SELECT vec_id AS cid, emb FROM e
                 WHERE vec_id IN (${ivfCentroidIds.mkString(", ")})),
           a0 AS (SELECT e.vec_id, c.cid, ${duckCosOf("e", "c")} AS ccos
                  FROM e CROSS JOIN c),
           a AS (SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY ccos DESC, cid) AS crn
                 FROM a0),
           cells AS (SELECT vec_id, cid AS cell FROM a WHERE crn = 1),
           probes AS (SELECT vec_id AS qid, cid AS cell FROM a
                      WHERE vec_id < 5 AND crn <= $ivfNprobe),
           p AS (SELECT vec_id, list_transform(emb,
                   x -> floor((x + 1) * 1000000)::BIGINT) AS p FROM e),
           pos AS (SELECT vec_id, unnest(p) AS pv,
                          generate_subscripts(p, 1) AS dim FROM p),
           sp AS (SELECT vec_id, (dim - 1) // $pqSubDim AS sub, dim, pv
                  FROM pos),
           $pqLloydSql,
           dist AS (SELECT a2.vec_id, a2.sub, c2.cid,
                           sum((a2.pv - c2.cv) * (a2.pv - c2.cv)) AS dist
                    FROM sp a2 JOIN cb c2 ON a2.dim = c2.dim
                    GROUP BY a2.vec_id, a2.sub, c2.cid),
           enc AS (SELECT vec_id, sub, cid AS code FROM (
                     SELECT *, row_number() OVER (
                       PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
                     FROM dist) WHERE rn = 1),
           dtab AS (SELECT vec_id AS qid, sub, cid AS code, dist AS qd
                    FROM dist WHERE vec_id < 5),
           cand AS (SELECT pr.qid, v.vec_id
                    FROM probes pr JOIN cells v USING (cell)
                    WHERE v.vec_id <> pr.qid),
           adc AS (SELECT cand.qid, cand.vec_id, sum(d.qd) AS adist
                   FROM cand JOIN enc e2 ON e2.vec_id = cand.vec_id
                        JOIN dtab d ON d.qid = cand.qid
                          AND d.sub = e2.sub AND d.code = e2.code
                   GROUP BY cand.qid, cand.vec_id),
           r AS (SELECT qid, vec_id, adist, row_number() OVER (
                   PARTITION BY qid ORDER BY adist, vec_id) AS rn
                 FROM adc)
          SELECT qid, vec_id, adist::BIGINT AS adist, rn::INT AS rn
          FROM r WHERE rn <= 10 ORDER BY qid, rn""",
    "ml_pq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
                     FROM embeddings),
           p AS (SELECT vec_id, list_transform(emb,
                   x -> floor((x + 1) * 1000000)::BIGINT) AS p FROM e),
           pos AS (SELECT vec_id, unnest(p) AS pv,
                          generate_subscripts(p, 1) AS dim FROM p),
           sp AS (SELECT vec_id, (dim - 1) // $pqSubDim AS sub, dim, pv
                  FROM pos),
           $pqLloydSql,
           dist AS (SELECT a.vec_id, a.sub, c.cid,
                           sum((a.pv - c.cv) * (a.pv - c.cv)) AS dist
                    FROM sp a JOIN cb c ON a.dim = c.dim
                    GROUP BY a.vec_id, a.sub, c.cid),
           enc AS (SELECT vec_id, sub, cid AS code FROM (
                     SELECT *, row_number() OVER (
                       PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
                     FROM dist) WHERE rn = 1),
           dtab AS (SELECT vec_id AS qid, sub, cid AS code, dist AS qd
                    FROM dist WHERE vec_id < 5),
           adc AS (SELECT d.qid, e2.vec_id, sum(d.qd) AS adist
                   FROM enc e2 JOIN dtab d
                     ON d.sub = e2.sub AND d.code = e2.code
                   WHERE e2.vec_id <> d.qid
                   GROUP BY d.qid, e2.vec_id),
           r AS (SELECT qid, vec_id, adist, row_number() OVER (
                   PARTITION BY qid ORDER BY adist, vec_id) AS rn
                 FROM adc)
          SELECT qid, vec_id, adist::BIGINT AS adist, rn::INT AS rn
          FROM r WHERE rn <= 10 ORDER BY qid, rn""",
    // Stage-for-stage CTE mirror of the one-plan pipeline; every
    // kernel is exact integer/string SQL, so the composition needs no
    // pinning.
    "pipeline_corpus" -> corpusOracle,
    "text_chunk" ->
      """SELECT doc_id, i AS chunk_id,
                substr(text, CAST(i * 100 + 1 AS INT), 120) AS chunk_text,
                length(substr(text, CAST(i * 100 + 1 AS INT), 120))::BIGINT
                  AS chunk_len
         FROM documents,
              LATERAL unnest(generate_series(0,
                CAST(floor((length(text) - 1) / 100.0) AS BIGINT))) AS u(i)
         WHERE length(text) > 0
         ORDER BY doc_id, chunk_id""",
    "text_tfidf" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents),
         tf AS (
           SELECT doc_id, word, count(*) AS tf FROM tok
           WHERE word <> '' GROUP BY doc_id, word),
         df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (
           SELECT tf.doc_id, tf.word, tf.tf, df.df,
                  (tf.tf * n.n_docs)::DOUBLE / df.df::DOUBLE AS tfidf
           FROM tf, df, n WHERE tf.word = df.word),
         rk AS (
           SELECT *, row_number() OVER
             (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rk
           FROM sc)
         SELECT doc_id, rk, word, tf, df, tfidf
         FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""",
    "corpus_shard" ->
      s"""WITH a AS (
            SELECT doc_id, n_chars,
                   ${duckBucket("doc_id")} % 8 AS shard
            FROM documents)
          SELECT shard, row_number() OVER
              (PARTITION BY shard ORDER BY doc_id) - 1 AS pos,
            doc_id, n_chars
          FROM a ORDER BY shard, pos""",
    "tok_encode" ->
      s"""WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM documents),
          c AS (
            SELECT doc_id,
                   len(words)::BIGINT AS n_words,
                   list_reduce(list_prepend(0::BIGINT,
                     list_transform(words, w -> length(w)::BIGINT)),
                     (a, b) -> a + b) AS n_word_chars,
                   list_reduce(list_prepend(0::BIGINT,
                     list_transform(words, w ->
                       (CASE WHEN w = '' THEN 0
                        ELSE len(string_split($duckEncodeWord, '  '))
                        END)::BIGINT)),
                     (a, b) -> a + b) AS n_bpe_tokens
            FROM t)
          SELECT doc_id, n_words, n_word_chars, n_bpe_tokens,
                 n_word_chars::DOUBLE / n_bpe_tokens::DOUBLE
                   AS chars_per_token
          FROM c ORDER BY doc_id""",
    "sample_hash" ->
      s"""SELECT doc_id, lang, source,
                 ${duckBucket("doc_id")} AS bucket
          FROM documents
          WHERE ${duckBucket("doc_id")} < 1000
          ORDER BY doc_id""",
    "text_cooc" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents),
            pos AS (SELECT doc_id, unnest(t) AS w,
                           generate_subscripts(t, 1) AS i FROM toks),
            pairs AS (SELECT least(a.w, b.w) AS pa, greatest(a.w, b.w) AS pb
                      FROM pos a JOIN pos b
                        ON a.doc_id = b.doc_id
                       AND b.i > a.i AND b.i <= a.i + 3),
            cab AS (SELECT pa, pb, count(*) AS c_ab FROM pairs
                    GROUP BY pa, pb HAVING count(*) >= 5),
            cw AS (SELECT w, count(*) AS c FROM pos GROUP BY w),
            tot AS (SELECT count(*) AS n FROM pos)
          SELECT pa, pb, c_ab::BIGINT AS c_ab,
                 (n * c_ab)::DOUBLE / (ca.c * cb.c)::DOUBLE AS lift
          FROM cab, tot
          JOIN cw ca ON ca.w = pa
          JOIN cw cb ON cb.w = pb
          ORDER BY lift DESC, pa, pb LIMIT 20""",
    "agg_heavy_hitters" ->
      s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
                     FROM documents),
            tot AS (SELECT count(*) AS n FROM w)
          SELECT word, count(*)::BIGINT AS cnt
          FROM w, tot
          GROUP BY word, n
          HAVING count(*) * $heavySupport > n
          ORDER BY cnt DESC, word""",
    "sample_reservoir" ->
      s"""WITH pri AS (
            SELECT lang, doc_id,
                   ('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT AS pr
            FROM documents),
          r AS (
            SELECT lang, doc_id, pr,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY pr DESC, doc_id) AS rk
            FROM pri)
          SELECT lang, rk::INT AS rk, doc_id, pr
          FROM r WHERE rk <= $reservoirK ORDER BY lang, rk""",
    "sample_stratified" ->
      s"""WITH r AS (
            SELECT lang, ${duckBucket("doc_id")} AS bucket,
                   CASE lang WHEN 'en' THEN 1000 WHEN 'es' THEN 2500
                             WHEN 'de' THEN 2500 WHEN 'fr' THEN 5000
                             ELSE 5000 END AS rate_bp
            FROM documents)
          SELECT lang, count(*) AS n_docs,
                 sum(CASE WHEN bucket < rate_bp THEN 1 ELSE 0 END)::BIGINT
                   AS n_kept,
                 max(rate_bp)::BIGINT AS rate_bp
          FROM r GROUP BY lang ORDER BY lang""",
    "data_mixture" ->
      s"""WITH base AS (
            SELECT doc_id, source,
                   len(string_split(text, ' '))::BIGINT AS n_tok,
                   10000 + (regexp_extract(source, '([0-9]+)$$', 1)::BIGINT % 4)
                     * 5000 AS weight_bp,
                   ${duckBucket("doc_id")} AS bucket
            FROM documents),
          mixed AS (
            SELECT source, doc_id, n_tok, weight_bp,
                   unnest(range(1, (weight_bp // 10000) + 1)) AS epoch
            FROM base
            UNION ALL
            SELECT source, doc_id, n_tok, weight_bp, -1 AS epoch
            FROM base WHERE bucket < (weight_bp % 10000))
          SELECT source, max(weight_bp)::BIGINT AS weight_bp,
                 count(DISTINCT doc_id) AS n_orig,
                 count(*) AS n_mixed,
                 sum(n_tok)::BIGINT AS tokens_mixed
          FROM mixed GROUP BY source ORDER BY source""",
    // Same isqrt weights (IEEE sqrt + floor is engine-invariant), same
    // integer basis-point division, same md5 bucket — exact end to end.
    "sample_temperature" ->
      s"""WITH c AS (SELECT source, count(*) AS n_s
                     FROM documents GROUP BY source),
          wts AS (SELECT source, n_s,
                         floor(sqrt(n_s::DOUBLE))::BIGINT AS w_s FROM c),
          tot AS (SELECT sum(n_s)::BIGINT AS n_tot,
                         sum(w_s)::BIGINT AS w_tot FROM wts),
          rates AS (SELECT source, n_s, w_s,
                           least(10000,
                             (10000 * (n_tot // 2) * w_s) // (w_tot * n_s))
                             AS accept_bp
                    FROM wts, tot),
          samp AS (SELECT d.source, r.n_s, r.w_s, r.accept_bp,
                          len(string_split(d.text, ' '))::BIGINT AS n_tok
                   FROM documents d JOIN rates r USING (source)
                   WHERE ${duckBucket("d.doc_id")} < r.accept_bp)
          SELECT source, max(n_s)::BIGINT AS n_orig, max(w_s)::BIGINT AS w_s,
                 max(accept_bp)::BIGINT AS accept_bp, count(*) AS n_sampled,
                 sum(n_tok)::BIGINT AS tokens_sampled
          FROM samp GROUP BY source ORDER BY source""",
    // The same four already-proven laws chained: gopher keep, min-id
    // dedup, DSIR sign threshold (model over the FULL corpus), pack
    // window — identical formulations to their standalone oracles.
    "pipeline_curate" ->
      """WITH m AS (
           SELECT doc_id,
                  len(string_split(text, ' '))::BIGINT AS n_words,
                  length(replace(text, ' ', ''))::BIGINT AS n_letters,
                  len(list_distinct(string_split(text, ' ')))::BIGINT
                    AS n_distinct,
                  len(list_intersect(string_split(text, ' '),
                      ['the','a','of','and','to']))::BIGINT AS n_stop
           FROM documents),
         kept AS (
           SELECT doc_id FROM m
           WHERE n_words >= 20 AND n_words <= 80
             AND n_letters * 10 >= n_words * 40
             AND n_letters * 10 <= n_words * 45
             AND (n_words - n_distinct) * 10 <= n_words * 6
             AND n_stop >= 2),
         uniq AS (
           SELECT min(d.doc_id) AS doc_id
           FROM documents d JOIN kept USING (doc_id) GROUP BY d.text),
         tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t
                FROM documents),
         idx AS (SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i
                 FROM tk),
         inst AS (SELECT doc_id, lang,
                    (('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 8))
                      ::BIGINT % 1024) AS b
                  FROM idx),
         counts AS (SELECT b, count(*) AS c_r,
                      sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
                        AS c_t
                    FROM inst GROUP BY b),
         tot AS (SELECT sum(c_r)::BIGINT AS nr, sum(c_t)::BIGINT AS nt
                 FROM counts),
         model AS (SELECT b,
                     ln(c_t + 1) - ln(c_r + 1) - ln(nt + 1024)
                       + ln(nr + 1024) AS llr
                   FROM counts, tot),
         sc AS (SELECT doc_id, sum(llr) AS lw
                FROM inst JOIN model USING (b) GROUP BY doc_id),
         sel AS (SELECT doc_id FROM sc WHERE round(lw, 6) > 0),
         surv AS (SELECT doc_id FROM uniq JOIN sel USING (doc_id)),
         toks AS (
           SELECT d.source, d.doc_id,
                  len(string_split(d.text, ' '))::BIGINT AS n_tok
           FROM documents d JOIN surv USING (doc_id)),
         offs AS (
           SELECT source, doc_id, n_tok,
                  sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
                    AS cum
           FROM toks)
         SELECT source, ((cum - n_tok) // 2048)::BIGINT AS pack_id,
                count(*) AS n_docs, sum(n_tok)::BIGINT AS pack_tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM offs GROUP BY source, pack_id ORDER BY source, pack_id""",
    // Identical vocab selection (occurrence-mass total order, LIMIT
    // 48) and the identical 8 unrolled maximal-munch steps.
    "tok_wordpiece" -> {
      val head =
        """WITH words AS MATERIALIZED (
             SELECT w, count(*)::BIGINT AS wfreq FROM
             (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             GROUP BY w),
           occ AS MATERIALIZED (
             SELECT p, sum(wfreq)::BIGINT AS pfreq FROM (
               SELECT wfreq, unnest(list_transform(
                 range(1, greatest(length(w)-1, 0)+1),
                 i -> substr(w, i::INT, 2))) AS p FROM words
               UNION ALL
               SELECT wfreq, unnest(list_transform(
                 range(1, greatest(length(w)-2, 0)+1),
                 i -> substr(w, i::INT, 3))) AS p FROM words
               UNION ALL
               SELECT wfreq, unnest(list_transform(
                 range(1, greatest(length(w)-3, 0)+1),
                 i -> substr(w, i::INT, 4))) AS p FROM words)
             GROUP BY p),
           vocab AS MATERIALIZED (
             SELECT p FROM occ ORDER BY pfreq DESC, p LIMIT 48),
           e0 AS (SELECT w, wfreq, 1 AS cur, '' AS enc, 0 AS np
                  FROM words)"""
      val loops = (1 to 8).map { r =>
        s"""s$r AS (SELECT w, wfreq, cur, enc, np,
              CASE WHEN cur > length(w) THEN NULL
                   WHEN length(w)-cur+1 >= 4 AND substr(w,cur,4) IN
                     (SELECT p FROM vocab WHERE length(p)=4)
                     THEN substr(w,cur,4)
                   WHEN length(w)-cur+1 >= 3 AND substr(w,cur,3) IN
                     (SELECT p FROM vocab WHERE length(p)=3)
                     THEN substr(w,cur,3)
                   WHEN length(w)-cur+1 >= 2 AND substr(w,cur,2) IN
                     (SELECT p FROM vocab WHERE length(p)=2)
                     THEN substr(w,cur,2)
                   ELSE substr(w,cur,1) END AS take
              FROM e${r - 1}),
            e$r AS (SELECT w, wfreq,
              CASE WHEN take IS NULL THEN cur
                   ELSE cur + length(take) END AS cur,
              CASE WHEN take IS NULL THEN enc WHEN enc = '' THEN take
                   ELSE enc || '|' || take END AS enc,
              np + CASE WHEN take IS NULL THEN 0 ELSE 1 END AS np
              FROM s$r)"""
      }.mkString(",\n")
      s"$head,\n$loops\n SELECT w, wfreq, np::BIGINT AS n_pieces, " +
        "enc AS pieces FROM e8 ORDER BY w"
    },
    // Identical corpus-derived scored vocabulary (alphabet + top-48 by
    // mass), identical packed (score·16 + 15 − np) suffix DP over 13
    // padded positions, identical longest-first plateau reconstruction.
    "tok_unigram" -> {
      val sent = "-10000000"
      def sOf(sub: String) = s"coalesce(sm[$sub][1], -1000000)"
      def dpDef(k: Int) = {
        val cands = (1 to 4).map { ln =>
          s"CASE WHEN $k + $ln <= L + 1 THEN " +
            sOf(s"substr(w,$k,$ln)") + s"*16 + dp${k + ln} - 1 " +
            s"ELSE $sent END"
        }.mkString(", ")
        s"CASE WHEN $k = L + 1 THEN 15 WHEN $k <= L " +
          s"THEN greatest($cands) ELSE $sent END AS dp$k"
      }
      val dps = (Seq(s"$sent AS dp13", s"$sent AS dp12",
        s"$sent AS dp11", s"$sent AS dp10",
        s"CASE WHEN L = 8 THEN 15 ELSE $sent END AS dp9") ++
        (8 to 1 by -1).map(dpDef)).mkString(",\n  ")
      val loops = (1 to 8).map { r =>
        val conds = Seq(4, 3, 2).map { ln =>
          s"WHEN L-cur+1 >= $ln AND dparr[cur] = " +
            sOf(s"substr(w,cur,$ln)") +
            s"*16 + dparr[cur+$ln] - 1 THEN substr(w,cur,$ln)"
        }.mkString("\n ")
        s"""s$r AS (SELECT w, wfreq, L, sm, dparr, cur, enc, np,
              CASE WHEN cur > L THEN NULL
              $conds
              ELSE substr(w,cur,1) END AS take FROM e${r - 1}),
            e$r AS (SELECT w, wfreq, L, sm, dparr,
              CASE WHEN take IS NULL THEN cur
                   ELSE cur + length(take) END AS cur,
              CASE WHEN take IS NULL THEN enc WHEN enc = '' THEN take
                   ELSE enc || '|' || take END AS enc,
              np + CASE WHEN take IS NULL THEN 0 ELSE 1 END AS np
              FROM s$r)"""
      }.mkString(",\n")
      s"""WITH words AS MATERIALIZED (
           SELECT w, count(*)::BIGINT AS wfreq FROM
           (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY w),
         occ1 AS MATERIALIZED (
           SELECT p, sum(wfreq)::BIGINT AS pfreq FROM (
             SELECT wfreq, unnest(list_transform(range(1, length(w)+1),
               i -> substr(w, i::INT, 1))) AS p FROM words) GROUP BY p),
         occm AS MATERIALIZED (
           SELECT p, sum(wfreq)::BIGINT AS pfreq FROM (
             SELECT wfreq, unnest(list_transform(
               range(1, greatest(length(w)-1,0)+1),
               i -> substr(w, i::INT, 2))) AS p FROM words
             UNION ALL
             SELECT wfreq, unnest(list_transform(
               range(1, greatest(length(w)-2,0)+1),
               i -> substr(w, i::INT, 3))) AS p FROM words
             UNION ALL
             SELECT wfreq, unnest(list_transform(
               range(1, greatest(length(w)-3,0)+1),
               i -> substr(w, i::INT, 4))) AS p FROM words) GROUP BY p),
         vocab AS MATERIALIZED (
           SELECT p, length(pfreq::VARCHAR)::BIGINT - 20 AS sc FROM occ1
           UNION ALL
           SELECT p, length(pfreq::VARCHAR)::BIGINT - 20 AS sc FROM
             (SELECT p, pfreq FROM occm ORDER BY pfreq DESC, p LIMIT 48)),
         m AS (SELECT map(list(p ORDER BY p), list(sc ORDER BY p)) AS sm
               FROM vocab),
         d AS (SELECT w, wfreq, length(w) AS L, sm,
           $dps
           FROM words, m),
         arr AS (SELECT w, wfreq, L, sm,
           [dp1,dp2,dp3,dp4,dp5,dp6,dp7,dp8,dp9,dp10,dp11,dp12,dp13]
             AS dparr FROM d),
         e0 AS (SELECT w, wfreq, L, sm, dparr, 1 AS cur, '' AS enc,
                0 AS np FROM arr),
         $loops
         SELECT w, wfreq,
           CAST((dparr[1] - (15 - np)) // 16 AS BIGINT) AS score,
           CAST(np AS BIGINT) AS n_pieces, enc AS pieces
         FROM e8 ORDER BY w"""
    },
    // Identical unrolled 8 rounds, same integer micro-unit metric,
    // same (max min-dist, min vec_id) tie-break; radius narrowed back
    // to BIGINT (DuckDB sums BIGINT into HUGEINT).
    "sample_kcenter" -> {
      val head =
        """WITH q AS MATERIALIZED (
             SELECT vec_id, i, CAST(floor(e*1e6+0.5) AS BIGINT) AS qv
             FROM (SELECT vec_id, unnest(embedding) AS e,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings)),
           cen1 AS MATERIALIZED (
             SELECT 1 AS k, min(vec_id) AS cid, CAST(0 AS BIGINT) AS radius
             FROM q)"""
      val loops = (2 to 8).map { r =>
        s"""d$r AS MATERIALIZED (
              SELECT a.vec_id, min(dd) AS mind FROM (
                SELECT a.vec_id AS vec_id, c.cid,
                       sum((a.qv-b.qv)*(a.qv-b.qv)) AS dd
                FROM q a JOIN cen${r - 1} c ON true
                       JOIN q b ON b.vec_id = c.cid AND b.i = a.i
                GROUP BY a.vec_id, c.cid) a GROUP BY a.vec_id),
            p$r AS MATERIALIZED (
              SELECT $r AS k, vec_id AS cid, CAST(mind AS BIGINT) AS radius
              FROM d$r ORDER BY mind DESC, vec_id LIMIT 1),
            cen$r AS MATERIALIZED (
              SELECT * FROM cen${r - 1} UNION ALL SELECT * FROM p$r)"""
      }.mkString(",\n")
      s"$head,\n$loops\n SELECT k, cid, radius FROM cen8 ORDER BY k"
    },
    // Pinned from tools/ann_recall_oracle.py (independent pure-python
    // IEEE/integer/Lloyd mirror, sf0.01), two regimes. uniform: ivf recall@10 climbs 0.30 -> 0.42 -> 0.72 ->
    // 1.00 over nprobe 1/2/4/8 (every miss is the probe-set boundary)
    // while ivfpq sits at 0.06-0.12 even with trained codebooks --
    // uniform-random embeddings are the distance-concentration regime
    // and the audit reports that honestly. clustered (planted ~11-
    // member clusters, codebooks trained on the indexed data): ivf
    // 0.82 -> 1.00, ivfpq 0.78 -> 0.92 -> 0.92 -> 0.92 -- the
    // trained-PQ operating point: >= 0.9 recall once the probe set
    // covers the cluster, code distortion bounded to the vec_id tie-
    // break inside the (tied) own-cluster candidate block.
    "sim_ann_recall" ->
      """SELECT regime, algo, nprobe::INT AS nprobe, qid::BIGINT AS qid,
                n_hits::BIGINT AS n_hits, n_hits::DOUBLE / 10 AS recall
         FROM (VALUES
           ('clustered', 'ivf', 1, 0, 10),
           ('clustered', 'ivf', 1, 1, 10),
           ('clustered', 'ivf', 1, 2, 10),
           ('clustered', 'ivf', 1, 3, 5),
           ('clustered', 'ivf', 1, 4, 6),
           ('clustered', 'ivf', 2, 0, 10),
           ('clustered', 'ivf', 2, 1, 10),
           ('clustered', 'ivf', 2, 2, 10),
           ('clustered', 'ivf', 2, 3, 10),
           ('clustered', 'ivf', 2, 4, 10),
           ('clustered', 'ivf', 4, 0, 10),
           ('clustered', 'ivf', 4, 1, 10),
           ('clustered', 'ivf', 4, 2, 10),
           ('clustered', 'ivf', 4, 3, 10),
           ('clustered', 'ivf', 4, 4, 10),
           ('clustered', 'ivf', 8, 0, 10),
           ('clustered', 'ivf', 8, 1, 10),
           ('clustered', 'ivf', 8, 2, 10),
           ('clustered', 'ivf', 8, 3, 10),
           ('clustered', 'ivf', 8, 4, 10),
           ('clustered', 'ivfpq', 1, 0, 9),
           ('clustered', 'ivfpq', 1, 1, 9),
           ('clustered', 'ivfpq', 1, 2, 10),
           ('clustered', 'ivfpq', 1, 3, 5),
           ('clustered', 'ivfpq', 1, 4, 6),
           ('clustered', 'ivfpq', 2, 0, 9),
           ('clustered', 'ivfpq', 2, 1, 9),
           ('clustered', 'ivfpq', 2, 2, 10),
           ('clustered', 'ivfpq', 2, 3, 9),
           ('clustered', 'ivfpq', 2, 4, 9),
           ('clustered', 'ivfpq', 4, 0, 9),
           ('clustered', 'ivfpq', 4, 1, 9),
           ('clustered', 'ivfpq', 4, 2, 10),
           ('clustered', 'ivfpq', 4, 3, 9),
           ('clustered', 'ivfpq', 4, 4, 9),
           ('clustered', 'ivfpq', 8, 0, 9),
           ('clustered', 'ivfpq', 8, 1, 9),
           ('clustered', 'ivfpq', 8, 2, 10),
           ('clustered', 'ivfpq', 8, 3, 9),
           ('clustered', 'ivfpq', 8, 4, 9),
           ('uniform', 'ivf', 1, 0, 5),
           ('uniform', 'ivf', 1, 1, 3),
           ('uniform', 'ivf', 1, 2, 3),
           ('uniform', 'ivf', 1, 3, 2),
           ('uniform', 'ivf', 1, 4, 2),
           ('uniform', 'ivf', 2, 0, 6),
           ('uniform', 'ivf', 2, 1, 5),
           ('uniform', 'ivf', 2, 2, 5),
           ('uniform', 'ivf', 2, 3, 3),
           ('uniform', 'ivf', 2, 4, 2),
           ('uniform', 'ivf', 4, 0, 7),
           ('uniform', 'ivf', 4, 1, 8),
           ('uniform', 'ivf', 4, 2, 9),
           ('uniform', 'ivf', 4, 3, 6),
           ('uniform', 'ivf', 4, 4, 6),
           ('uniform', 'ivf', 8, 0, 10),
           ('uniform', 'ivf', 8, 1, 10),
           ('uniform', 'ivf', 8, 2, 10),
           ('uniform', 'ivf', 8, 3, 10),
           ('uniform', 'ivf', 8, 4, 10),
           ('uniform', 'ivfpq', 1, 0, 2),
           ('uniform', 'ivfpq', 1, 1, 1),
           ('uniform', 'ivfpq', 1, 2, 2),
           ('uniform', 'ivfpq', 1, 3, 0),
           ('uniform', 'ivfpq', 1, 4, 1),
           ('uniform', 'ivfpq', 2, 0, 0),
           ('uniform', 'ivfpq', 2, 1, 1),
           ('uniform', 'ivfpq', 2, 2, 2),
           ('uniform', 'ivfpq', 2, 3, 0),
           ('uniform', 'ivfpq', 2, 4, 0),
           ('uniform', 'ivfpq', 4, 0, 0),
           ('uniform', 'ivfpq', 4, 1, 2),
           ('uniform', 'ivfpq', 4, 2, 2),
           ('uniform', 'ivfpq', 4, 3, 0),
           ('uniform', 'ivfpq', 4, 4, 0),
           ('uniform', 'ivfpq', 8, 0, 0),
           ('uniform', 'ivfpq', 8, 1, 2),
           ('uniform', 'ivfpq', 8, 2, 0),
           ('uniform', 'ivfpq', 8, 3, 1),
           ('uniform', 'ivfpq', 8, 4, 0)) t(regime, algo, nprobe, qid, n_hits)
         ORDER BY regime, algo, nprobe, qid""",
    // Same md5 bucket hash, same add-one llr over exact integer
    // counts, same 1e-6 grid on the per-doc ln sum (fold-order noise
    // ~1e-13 against the grid — the text_perplexity discipline).
    "sample_dsir" ->
      """WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t
                     FROM documents),
         idx AS (SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i
                 FROM tk),
         inst AS (SELECT doc_id, lang,
                    (('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 8))
                      ::BIGINT % 1024) AS b
                  FROM idx),
         counts AS (SELECT b, count(*) AS c_r,
                      sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
                        AS c_t
                    FROM inst GROUP BY b),
         tot AS (SELECT sum(c_r)::BIGINT AS nr, sum(c_t)::BIGINT AS nt
                 FROM counts),
         model AS (SELECT b,
                     ln(c_t + 1) - ln(c_r + 1) - ln(nt + 1024)
                       + ln(nr + 1024) AS llr
                   FROM counts, tot),
         sc AS (SELECT doc_id, lang, count(*) AS n_feat, sum(llr) AS lw
                FROM inst JOIN model USING (b) GROUP BY doc_id, lang)
         SELECT doc_id, lang, n_feat, round(lw, 6) AS log_weight,
                round(lw, 6) > 0 AS selected
         FROM sc ORDER BY doc_id""",
    // Same sections, same quality rule (one IEEE division of exact
    // integers), same sha256 distinct.
    "pipeline_dataset_card" ->
      """WITH base AS (
           SELECT doc_id, lang, source, text,
                  len(string_split(text, ' '))::BIGINT AS n_tok,
                  (len(list_filter(string_split(text, ' '),
                       x -> x IN ('the', 'a', 'of', 'and', 'to')))::BIGINT
                     * 600
                   + least(length(text)::BIGINT, 500) * 3)::DOUBLE
                    AS score_num
           FROM documents),
         b2 AS (SELECT *, score_num / n_tok::DOUBLE >= 50.0 AS keep
                FROM base)
         SELECT * FROM (
           SELECT 'lang' AS section, lang AS k, count(*) AS n_docs,
                  sum(n_tok)::BIGINT AS n_tokens FROM b2 GROUP BY lang
           UNION ALL
           SELECT 'source', source, count(*), sum(n_tok)::BIGINT
           FROM b2 GROUP BY source
           UNION ALL
           SELECT 'overall', 'corpus', count(*), sum(n_tok)::BIGINT FROM b2
           UNION ALL
           SELECT 'quality', CASE WHEN keep THEN 'keep' ELSE 'drop' END,
                  count(*), sum(n_tok)::BIGINT FROM b2 GROUP BY 2
           UNION ALL
           SELECT 'dedup', 'unique_text',
                  count(DISTINCT sha256(text)), 0::BIGINT FROM b2)
         ORDER BY section, k""",
    // The identical first-fit fold over the identically sorted queue:
    // list_reduce needs acc and element types to match, so sizes ride
    // as single-element lists.
    "pack_ffd" ->
      """WITH t0 AS (SELECT source, doc_id,
                     len(string_split(text, ' '))::BIGINT AS n_tok
              FROM documents),
         q AS (SELECT source,
                      list(n_tok ORDER BY n_tok DESC, doc_id) AS sizes
               FROM t0 GROUP BY source),
         b AS (SELECT source, list_reduce(
                 list_transform(sizes, x -> [x]),
                 (acc, x) -> CASE
                   WHEN len(list_filter(list_transform(acc,
                          (bb, i) -> CASE WHEN bb + x[1] <= 512 THEN i END),
                          v -> v IS NOT NULL)) = 0
                   THEN list_append(acc, x[1])
                   ELSE list_transform(acc, (bb, i) ->
                          CASE WHEN i = list_filter(list_transform(acc,
                                 (b2, i2) -> CASE WHEN b2 + x[1] <= 512
                                             THEN i2 END),
                                 v -> v IS NOT NULL)[1]
                               THEN bb + x[1] ELSE bb END) END) AS bins
               FROM q)
         SELECT source, generate_subscripts(bins, 1)::BIGINT AS bin,
                unnest(bins) AS load
         FROM b ORDER BY source, bin""",
    "pack_sequences" ->
      """WITH toks AS (
           SELECT source, doc_id,
                  len(string_split(text, ' '))::BIGINT AS n_tok
           FROM documents),
         offs AS (
           SELECT source, doc_id, n_tok,
                  sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
           FROM toks)
         SELECT source, ((cum - n_tok) // 2048)::BIGINT AS pack_id,
                count(*) AS n_docs, sum(n_tok)::BIGINT AS pack_tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM offs GROUP BY source, pack_id ORDER BY source, pack_id""",
    "tok_vocab" ->
      """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
               FROM documents)
         GROUP BY token ORDER BY tf DESC, token LIMIT 100""",
    // Pinned at sf0.01 (driver correctness contract) from an
    // independent Python BPE implementation over the same corpus:
    // word counts via DuckDB, then 8 greedy merges with the identical
    // (count DESC, pair ASC) tie-break and left-to-right fold.
    "tok_bpe" ->
      """SELECT rank::INT AS rank, left_sym, right_sym, merged,
                pair_count::BIGINT AS pair_count
         FROM (VALUES
           (1, 'e', 'r', 'er', 4568),
           (2, 'i', 'n', 'in', 2760),
           (3, 'o', 'w', 'ow', 2747),
           (4, 'o', 'r', 'or', 2696),
           (5, 's', 't', 'st', 2676),
           (6, 'm', 'er', 'mer', 1852),
           (7, 'a', 't', 'at', 1845),
           (8, 'l', 'u', 'lu', 1831))
         t(rank, left_sym, right_sym, merged, pair_count)
         ORDER BY rank""",
    "sim_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
          c AS (SELECT vec_id AS cid, emb FROM e
                WHERE vec_id IN (${ivfCentroidIds.mkString(", ")})),
          a0 AS (
            SELECT e.vec_id, e.emb AS vemb, c.cid,
                   ${duckCosOf("e", "c")} AS ccos
            FROM e CROSS JOIN c),
          a AS (SELECT vec_id, vemb, cid,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY ccos DESC, cid) AS crn
                FROM a0),
          cells AS (SELECT vec_id, vemb AS emb, cid AS cell FROM a WHERE crn = 1),
          probes AS (SELECT vec_id AS qid, vemb AS emb, cid AS cell
                     FROM a WHERE vec_id < 5 AND crn <= $ivfNprobe),
          pairs AS (
            SELECT p.qid, v.vec_id, ${duckCosOf("p", "v")} AS cos
            FROM probes p JOIN cells v USING (cell)
            WHERE v.vec_id <> p.qid)
          SELECT qid, rn, vec_id, round(cos, 6) AS cosine
          FROM (SELECT qid, vec_id, cos,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY cos DESC, vec_id) AS rn
                FROM pairs)
          WHERE rn <= 10 ORDER BY qid, rn""",
    "fn_sql_registry" ->
      """SELECT doc_id, upper(lang) AS ulang,
                trim(regexp_replace(
                  ' ' || source || '/f|' || doc_id || '<x>.txt ',
                  '[^A-Za-z0-9._\- ]', '-', 'g'), ' ') AS clean
         FROM documents ORDER BY doc_id""",
  )
}
