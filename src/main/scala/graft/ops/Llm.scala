package graft.ops

import graft.Scratch
import graft.Tables._
import graft.ops.Pipeline.{entryLit, nearest, roundedGrid, shiftedGrid}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** LLM-training-data operators over `documents` / `embeddings`
  * (SURVEY.md §2b north-star extension): dedup, similarity search, text
  * analysis, multimodal joins.
  *
  * Scale posture: exact dedup groups on a 256-bit content hash (shuffle
  * carries 32 bytes + key, never the document body); similarity search
  * broadcasts the small query side and keeps the corpus streaming; all
  * text metrics are single-pass, codegen'd higher-order functions.
  */
object Llm {

  /** Dot product of two double-array columns.
    * Left-fold (`aggregate`) matches DuckDB `list_reduce` order, and all
    * inputs are float-exact doubles, so results are bitwise reproducible
    * across engines. */
  private[ops] def dot(x: Column, y: Column): Column =
    call_function("dot64", x, y)

  /** Per-vector norm — precompute ONCE per side before a pairwise join;
    * recomputing norms inside the pair loop triples the flops
    * (O(pairs·3d) → O(pairs·d + n·d)) without changing a bit of output
    * (sqrt of the identical fold). */
  private[ops] def norm(x: Column): Column = sqrt(dot(x, x))

  /** Exact dedup via content hash: keep lowest doc_id per sha256(text)
    * (R16/R18 duplicate identity, generalized from (path,size,mtime) to
    * content). At 100 TB the shuffle key is the 32-byte digest. */
  private def dedupExact: Q = (s, d) =>
    t(s, d, "documents")
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** Brute-force top-k cosine similarity: the ANN correctness baseline.
    * Query side (5 vectors) is broadcast; corpus side never shuffles
    * until the final per-query top-k (k rows per query). */
  private def simCosineTopk: Q = (s, d) => {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (dot(col("qemb"), col("emb")) / (col("qnrm") * col("nrm"))).as("cos"))
      .select(col("qid"), col("vec_id"), col("cos"), row_number().over(w).as("rn"))
      .where(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("vec_id"), round(col("cos"), 6).as("cosine"))
      .orderBy("qid", "rn")
  }

  /** Corpus statistics by language: doc counts, token/char volumes. */
  private def textStats: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        round(sum(col("n_tok")).cast("double") / count(lit(1)), 4).as("avg_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang")

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation). */
  private def textTokens: Q = (s, d) =>
    t(s, d, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
          .cast("long").as("re_tokens"),
        length(col("text")).cast("long").as("len_chars"))
      .orderBy("doc_id")

  /** Quality scoring: length, stopword ratio, punctuation ratio, average
    * word length → a composite [0,1] score. */
  private def textQuality: Q = (s, d) => {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val stops = size(filter(toks, x =>
      x.isin("the", "a", "of", "and", "to"))).cast("double")
    val punct = regexp_count(col("text"), lit("[^A-Za-z0-9 ]")).cast("double")
    t(s, d, "documents")
      .select(
        col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        round(stops / nTok, 4).as("stop_ratio"),
        round(punct / length(col("text")).cast("double"), 4).as("punct_ratio"),
        round((length(col("text")).cast("double") - (nTok - 1)) / nTok, 4)
          .as("avg_word_len"),
        round(least(nTok, lit(200.0)) / 200.0 * 0.5 + (stops / nTok) * 0.5, 4)
          .as("quality"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic: letter-frequency scores per candidate
    * language, argmax with a fixed precedence. (A real n-gram model slots
    * into the same shape; the synthetic corpus is English-ish word soup,
    * so the interesting property is determinism, not accuracy.) */
  private def textLangId: Q = (s, d) => {
    def cnt(ch: String): Column =
      (length(col("text")) - length(translate(col("text"), ch, ""))).cast("double")
    val sEn = cnt("e") * 1.27 + cnt("t") * 0.91
    val sEs = cnt("a") * 1.25 + cnt("o") * 0.87
    val sDe = cnt("n") * 1.00 + cnt("s") * 0.73
    val sFr = cnt("i") * 0.76 + cnt("u") * 0.63
    val pred = when(sEn >= sEs && sEn >= sDe && sEn >= sFr, "en")
      .when(sEs >= sDe && sEs >= sFr, "es")
      .when(sDe >= sFr, "de")
      .otherwise("fr")
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), pred.as("pred_lang"),
        (pred === col("lang")).as("is_match"))
      .orderBy("doc_id")
  }

  /** End-to-end training-data cleaning pipeline — the composition a
    * 100 TB corpus actually runs: language filter → quality floor →
    * exact dedup (keep lowest doc_id per content hash) → per-source
    * stats of the surviving corpus. One declarative plan: Catalyst fuses
    * the filters into the scan and the dedup is one hash shuffle. */
  private def pipelineClean: Q = (s, d) => {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val stops = size(filter(toks, x =>
      x.isin("the", "a", "of", "and", "to"))).cast("double")
    val quality = least(nTok, lit(200.0)) / 200.0 * 0.5 + (stops / nTok) * 0.5
    val w = Window.partitionBy(sha2(col("text"), 256)).orderBy("doc_id")
    t(s, d, "documents")
      .where(col("lang").isin("en", "es", "de"))
      .withColumn("quality", quality)
      .where(col("quality") >= 0.15)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
        round(sum(dec(col("quality"))), 4).cast("double").as("sum_quality"))
      .orderBy("source")
  }

  /** Multimodal row: text metadata ⋈ vector by id. */
  private def multimodalJoin: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val emb = t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(
        col("doc_id"), col("lang"), col("label"), col("n_chars"),
        element_at(col("emb"), 1).as("emb0"),
        round(sqrt(aggregate(col("emb"), lit(0.0), (a, x) => a + x * x)), 6)
          .as("emb_norm"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------- near-dup family

  /** Word-3-gram shingle set (distinct), degrading to the whole doc for
    * 1–2-word texts (DuckDB's `t[j:j+2]` slice semantics, which the
    * oracles use). zip_with over three shifted slices rather than
    * transform+element_at: slice pads missing tail elements with null
    * (concat_ws then skips them) where ANSI element_at THROWS on
    * out-of-bounds — which makes every shingle-family op
    * safe on degenerate short docs — and each slice evaluates the split
    * once per row instead of per element. */
  private[graft] def shingles(text: Column): Column = {
    val toks = split(text, " ")
    val m = greatest(size(toks) - 2, lit(1))
    array_distinct(zip_with(
      zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
        (x, y) => concat_ws(" ", x, y)),
      slice(toks, lit(3), m), (xy, z) => concat_ws(" ", xy, z)))
  }

  /** MinHash + LSH banding near-dup DEDUP: 16-slot signatures → 4 bands
    * of 4 → band-bucket self-join → candidate pairs → signature-agreement
    * estimate → a keep/dup DECISION per document (the reference's
    * per-file skip/rename decision, child.py:183-188,
    * scrap/child_otherftp.py:280-298). Output is one row per document
    * (doc_id, n_shingles, sig0, n_candidates, dup_of, est_jaccard,
    * decision) — non-empty even on a corpus with no true near-dups; the
    * pair semantics are pinned by LlmSpec on planted near-duplicates.
    *
    * Scale shape: signatures are a pure per-row map ([[graft.expr
    * .MinHashSig]] — no explode, no shuffle, document bodies never leave
    * the scan), CHECKPOINTED to scratch parquet (16 longs + 2 ids per
    * doc) so the multi-branch DAG below reads the tiny signature table
    * instead of recomputing shingles per branch (and nothing stays
    * cache-pinned after the query). The band self-join
    * shuffles only (band_idx, band_hash, doc_id) triples; candidate
    * verification joins 16-long signatures on bounded pair sets. */
  private[ops] val minhashNSig = 16
  private[ops] val minhashBandWidth = 4
  private[ops] val minhashThreshold = 0.5

  /** Per-doc MinHash signature table, CHECKPOINTED to scratch parquet
    * (16 longs + 2 ids per doc): signatures are a pure per-row map
    * ([[graft.expr.MinHashSig]] — no explode, no shuffle), and the
    * checkpoint lets every downstream branch read the tiny table
    * instead of recomputing shingles (and nothing stays cache-pinned
    * after the query). */
  private[ops] def minhashSigTable(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    Scratch.table(s, Scratch.path("minhash_sig", d)) {
      val sh = shingles(col("text"))
      fanOut(t(s, d, "documents"))
        .select(col("doc_id"),
          call_function("minhash_sig", sh).as("sig"),
          size(sh).cast("long").as("n_shingles"))
    }
  }

  private def minhashPairsTable(s: org.apache.spark.sql.SparkSession,
      d: String, sigT: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    Scratch.table(s, Scratch.path("minhash_pairs", d)) {
      minhashPairs(sigT)
    }

  /** LSH candidate pairs with estimated Jaccard (fraction of agreeing
    * signature slots). Signatures RIDE the band rows (16 longs × 4 rows
    * per doc) so one self-join yields candidate pairs WITH both
    * signatures — no join-back to the signature table afterwards; a
    * pair colliding in several bands dedups in the same aggregation
    * that computes its estimate. */
  /** (doc_id, sig, band_idx, band_hash) rows — one per (doc, band);
    * the LSH bucketing shared by the batch and incremental dedups. */
  private[ops] def bandRows(sigT: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    sigT.select(col("doc_id"), col("sig"),
      posexplode(array((0 until minhashNSig / minhashBandWidth).map(b =>
        xxhash64((0 until minhashBandWidth).map(j =>
          element_at(col("sig"), b * minhashBandWidth + j + 1)): _*)): _*))
        .as(Seq("band_idx", "band_hash")))

  private def minhashPairs(sigT: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bands = bandRows(sigT)
    bands
      .select(col("doc_id").as("a_id"), col("sig").as("sig_a"),
        col("band_idx"), col("band_hash"))
      .join(bands.select(col("doc_id").as("b_id"), col("sig").as("sig_b"),
        col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (p, q) => when(p === q, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
          .cast("double") / minhashNSig).as("e"))
      .groupBy("a_id", "b_id")
      .agg(max(col("e")).as("est_jaccard"))
  }

  private def dedupMinhash: Q = (s, d) => {
    val threshold = minhashThreshold
    val sigT = minhashSigTable(s, d)
    val est = minhashPairsTable(s, d, sigT)
    val candCnt = est.select(col("a_id").as("doc_id"))
      .unionAll(est.select(col("b_id").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
    // Keep-lowest-id policy (same as dedup_exact): a doc is a dup of its
    // best-matching lower-id neighbour at est >= threshold.
    val w = Window.partitionBy("b_id").orderBy(col("est_jaccard").desc, col("a_id"))
    val dups = est.where(col("est_jaccard") >= threshold)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("b_id").as("doc_id"), col("a_id").as("dup_of"),
        col("est_jaccard"))
    sigT
      .join(candCnt, Seq("doc_id"), "left")
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        element_at(col("sig"), 1).as("sig0"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("dup_of"), col("est_jaccard"),
        when(col("dup_of").isNotNull, lit("dup")).otherwise(lit("keep"))
          .as("decision"))
      .orderBy("doc_id")
  }

  /** INCREMENTAL near-dup dedup — the daily-growth pattern that makes
    * dedup tractable at 100 TB: yesterday's corpus keeps its signature
    * index as a STORED artifact (here the checkpointed signature table
    * filtered to even doc_ids — in production, yesterday's parquet),
    * and only the NEW batch (odd doc_ids) computes signatures and
    * probes. A new doc is a dup of its best-matching partner at
    * est ≥ threshold among (a) any INDEX doc — the index always wins
    * ties by id where relevant — or (b) a LOWER-id doc within the same
    * batch (keep-lowest, consistent with dedup_exact/dedup_minhash).
    * Work per day is O(batch × collisions), never O(corpus²), and the
    * index is append-only: today's batch signatures become tomorrow's
    * index rows with no recompute. Oracle: pinned VALUES from the
    * independent pure-python implementation (tools/incremental_oracle
    * .py, same validated XXH64 stack as the rest of the minhash
    * family). */
  private def dedupIncremental: Q = (s, d) => {
    val sigT = minhashSigTable(s, d)
    val idxBands = bandRows(sigT.where(col("doc_id") % 2 === 0))
      .select(col("doc_id").as("a_id"), col("sig").as("sig_a"),
        col("band_idx"), col("band_hash"))
    val newBands = bandRows(sigT.where(col("doc_id") % 2 === 1))
    val probeSide = newBands
      .select(col("doc_id").as("a_id"), col("sig").as("sig_a"),
        col("band_idx"), col("band_hash"))
      .unionByName(idxBands)
    incrementalDecisions(
      incrementalEst(probeSide, newBands),
      sigT.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_shingles")))
      .orderBy("doc_id")
  }

  /** Candidate-pair estimates for the incremental dedup twins: probe
    * rows (a_id, sig_a, band_idx, band_hash) band-join the new batch's
    * rows; partner = any index doc (even id) or a lower-id doc of the
    * same batch; estimate = max signature-agreement over colliding
    * bands. SHARED by dedup_incremental and stream_dedup_incremental —
    * the two are contractually row-identical (LlmSpec pin, shared
    * pinned oracle), so the semantics live in exactly one place. */
  private[ops] def incrementalEst(
      probeSide: org.apache.spark.sql.DataFrame,
      newBands: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    probeSide
      .join(newBands.select(col("doc_id").as("b_id"), col("sig").as("sig_b"),
        col("band_idx"), col("band_hash")), Seq("band_idx", "band_hash"))
      .where(col("a_id") % 2 === 0 || col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (p, q) => when(p === q, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
          .cast("double") / minhashNSig).as("e"))
      .groupBy("a_id", "b_id")
      .agg(max(col("e")).as("est_jaccard"))

  /** Keep/dup decision per new doc from the pair estimates (best
    * partner at est ≥ threshold, keep-lowest tie-break) — the other
    * half shared by both incremental twins. `newDocs` is
    * (doc_id, n_shingles) for the batch being decided. */
  private[ops] def incrementalDecisions(
      est0: org.apache.spark.sql.DataFrame,
      newDocs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // est feeds TWO consumers (candidate counts + the best-partner
    // window) and each would re-run the whole band-probe join — a
    // stage profile showed the probe subtree duplicated per batch in
    // stream_dedup_incremental (~0.5-0.7 s task × 2 per batch). One
    // lineage cut runs it once; rows unchanged (guide §5, the
    // sample_dsir inst.localCheckpoint discipline).
    val est = est0.localCheckpoint()
    val candCnt = est.groupBy("b_id")
      .agg(count(lit(1)).as("n_candidates"))
    val w = Window.partitionBy("b_id")
      .orderBy(col("est_jaccard").desc, col("a_id"))
    val dups = est.where(col("est_jaccard") >= minhashThreshold)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("b_id"), col("a_id").as("dup_of"), col("est_jaccard"))
    newDocs
      .join(candCnt.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .join(dups.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("dup_of"), col("est_jaccard"),
        when(col("dup_of").isNotNull, lit("dup")).otherwise(lit("keep"))
          .as("decision"))
  }

  /** MinHash signatures via the native [[graft.expr.MinHashSketch]]
    * TypedImperativeAggregate over exploded shingles — the
    * map-side-combinable aggregation formulation (raw Array[Long] buffer
    * in the hash map, serialized only on spill/shuffle; 16 longs per doc
    * on the wire). A udaf(Aggregator) formulation re-encodes the
    * buffer per input row and hits ObjectHashAggregate's sort fallback —
    * 264 s at sf0.1; the Aggregator surface itself remains cross-checked
    * bit-for-bit in LlmSpec alongside this and the scalar path. */
  private def dedupMinhashAgg: Q = (s, d) => {
    fanOut(t(s, d, "documents"))
      .select(col("doc_id"), explode(shingles(col("text"))).as("sh"))
      .groupBy("doc_id")
      .agg(call_function("minhash_sketch", col("sh")).as("sig"))
      .select(col("doc_id"),
        element_at(col("sig"), 1).as("sig0"),
        element_at(col("sig"), 16).as("sig15"))
      .orderBy("doc_id")
  }

  /** Near-dup CLUSTERS: connected components over the LSH pair graph
    * (a full dedup decides per GROUP, not per pair — "a~b, b~c" must
    * collapse to one representative even when a~c was never a
    * candidate). Bounded min-label propagation: each round every doc
    * takes the smallest label among itself and its neighbours; rounds
    * bound the component diameter reachable (near-dup clusters are
    * shallow in practice — every member is similar to the pivot).
    * Scale shape: per round one edges⋈labels join + one min-aggregate,
    * the standard iterative-dataflow component algorithm; each round is
    * checkpointed through [[Graph.fixpoint]] to cut lineage.
    * Representative = lowest doc_id of the cluster (keep-lowest policy,
    * consistent with dedup_exact / dedup_minhash). */
  private def dedupCluster: Q = (s, d) => {
    // Upper bound only — the loop stops at the first round that lowers
    // no label (actual diameter + 1 rounds), so a generous bound costs
    // nothing on converged corpora while covering long chains.
    val rounds = 16
    val sigT = minhashSigTable(s, d)
    val pairs = minhashPairsTable(s, d, sigT)
      .where(col("est_jaccard") >= minhashThreshold)
      .select("a_id", "b_id")
    // The edge list appears once PER ROUND in the final plan. The
    // expensive part (band self-join) is already materialized by
    // minhashPairsTable's scratch checkpoint, so the symmetric union
    // can stay as lineage: each round re-reads the small pairs parquet
    // twice instead of paying a dedicated edges write job.
    val edges = pairs
      .unionAll(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .toDF("src", "dst")
    // Round 0 needs no materialization of its own: it is a pure
    // projection of the signature scratch parquet, so the first round re-derives
    // it for free instead of paying a write job.
    val init = sigT.select(col("doc_id"), col("doc_id").as("label"))
    // Early exit: the common no-near-dups corpus stops after one round
    // instead of paying all `rounds` shuffle stages. Round 1's write is
    // sized by the document count, read from the signature footers.
    val cl = Graph.fixpoint(s, "cluster", d, init, parquetRows(s, sigT)) { (labels, _) =>
      val prop = edges
        .join(labels.select(col("doc_id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("label")).as("nlabel"))
      labels.join(prop, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
          (coalesce(col("nlabel"), col("label")) < col("label")).as("chg"))
    }(count_if(col("chg")).as("changed")) { (_, cur, r) =>
      r == rounds || cur.getLong(1) == 0
    }
    // A component with diameter > `rounds` would exit unconverged and be
    // silently split into several clusters — surface it on the error
    // stream so mis-clustering is detectable.
    if (cl.stats.getLong(1) > 0)
      graft.GraftLog.error(
        s"dedup_cluster: label propagation NOT converged after $rounds " +
          s"rounds on $d — components wider than $rounds hops are split")
    val labels = cl.state
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("doc_id"), col("label").as("cluster"), col("cluster_size"),
        (col("doc_id") === col("label")).as("is_representative"))
      .orderBy("doc_id")
  }

  /** Training-data text normalization: casefold, strip non-alphanumeric
    * to spaces, squeeze whitespace — the canonical pre-tokenization
    * cleanup pass, all codegen'd built-ins. */
  private def textNormalize: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("raw_chars"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
          " +", " ")).as("norm_text"))
      .withColumn("norm_chars", length(col("norm_text")).cast("long"))
      .orderBy("doc_id")

  /** HTML → text extraction (boilerplate stripping) — the FIRST stage
    * of every web-corpus pipeline, reduced to its deterministic
    * skeleton: drop script/style blocks, strip tags, decode the five
    * core entities (&amp; LAST — decoding it first would corrupt
    * double-escaped text like `&amp;lt;`, a planted trap in the
    * fixture), squeeze whitespace. The corpus has no markup, so the
    * fixture side synthesizes a full page around each doc (head junk,
    * nav, heading, paragraph breaks, entity-encoded runs, footer) and
    * the extractor recovers readable text. Every step is a codegen'd
    * regexp_replace/replace with RE2-safe patterns applied literally
    * identically in the oracle (lazy `.*?` and inline `(?s)` are
    * common to Java regex and RE2). Scale: pure map stage — text never
    * shuffles, no UDF, no parse tree. */
  private def textHtmlExtract: Q = (s, d) => {
    val body = regexp_replace(
      regexp_replace(col("text"), " spark ", "</p>\n<p>spark "),
      " data ", "&nbsp;data&nbsp;")
    val page = concat(
      lit("<html><head><title>"), col("source"),
      lit("</title><style>body{margin:0} p{line-height:1.4}</style>" +
        "<script>var a=1; if(a&lt;2){a=2;}</script></head>" +
        "<body><nav><a href=\"/\">home</a> <a href=\"/p?x=1&amp;y=2\">next</a></nav><h1>"),
      col("source"), lit(" #"), col("doc_id"),
      lit("</h1><p>"), body,
      lit("</p><footer>graft &amp; co &amp;lt;not-a-tag&gt;</footer></body></html>"))
    def strip(c: Column): Column = {
      val noScript = regexp_replace(c, "(?s)<script[^>]*>.*?</script>", " ")
      val noStyle = regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
      val noTags = regexp_replace(noStyle, "<[^>]+>", " ")
      // entity decode — &amp; strictly last (see scaladoc)
      val ent = replace(replace(replace(replace(replace(noTags,
        lit("&nbsp;"), lit(" ")),
        lit("&lt;"), lit("<")),
        lit("&gt;"), lit(">")),
        lit("&quot;"), lit("\"")),
        lit("&amp;"), lit("&"))
      trim(regexp_replace(ent, "\\s+", " "))
    }
    t(s, d, "documents")
      .select(col("doc_id"), page.as("page"))
      .select(col("doc_id"),
        (size(split(col("page"), "<p>", -1)) - 1).cast("long").as("n_paragraphs"),
        strip(col("page")).as("clean_text"))
      .withColumn("n_chars", length(col("clean_text")).cast("long"))
      .orderBy("doc_id")
  }

  /** PII scrubbing: emails and phone numbers replaced by typed redaction
    * tokens — a compliance pass every public-corpus pipeline runs.
    * Adversarial inputs are synthesized deterministically (the corpus
    * itself is PII-free), and the oracle applies the same regexes. */
  private def textPiiScrub: Q = (s, d) => {
    val raw = concat(lit("contact "), col("source"), col("doc_id"),
      lit("@example.com or call +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" about: "), substring(col("text"), 1, 40))
    t(s, d, "documents")
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"), col("raw"),
        regexp_replace(
          regexp_replace(col("raw"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "\\+[0-9][0-9-]{6,}", "<PHONE>").as("clean"))
      .orderBy("doc_id")
  }

  /** Segment-level dedup (CCNet/RefinedWeb "line dedup" over a corpus
    * with no newlines: fixed 10-token segments stand in for lines).
    * Any segment occurring verbatim in ≥2 distinct documents is
    * boilerplate — dropped from EVERY document; survivors reassemble in
    * order. Scale shape: segments shuffle by xxhash64(segment) (8-byte
    * keys, never the text), document frequency is one map-side-combined
    * aggregation, and reassembly is one groupBy(doc_id) — all linear in
    * corpus size, no pair joins. */
  private def textSegDedup: Q = (s, d) => {
    val toks = split(col("text"), " ")
    val nSegs = ceil(size(toks).cast("double") / 10.0).cast("int")
    val segArr = transform(sequence(lit(0), nSegs - 1),
      j => concat_ws(" ", slice(toks, j * 10 + 1, lit(10))))
    val segs = fanOut(t(s, d, "documents"))
      .select(col("doc_id"), posexplode(segArr).as(Seq("seg_idx", "seg")))
      .withColumn("h", xxhash64(col("seg")))
    // df ≥ 2 over the 8-byte segment hash (collision: needs two distinct
    // segments hashing equal AND landing in the same df bucket — ~n²/2^64)
    val dup = segs.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("df"))
      .where(col("df") >= 2)
      .select(col("h"), lit(1).as("is_dup"))
    segs.join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("is_dup").isNull,
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg"))).as("clean_text"),
        sum(when(col("is_dup").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
      .orderBy("doc_id")
  }

  /** Boilerplate TEMPLATE MINING per source (the review artifact a
    * curation team inspects before turning on [[textSegDedup]]-style
    * stripping): segments recurring across ≥ 5% of a source's documents
    * (and ≥ 2 docs absolute, so the artifact is non-empty even on a tiny shard) are that source's boilerplate candidates —
    * nav bars, footers, cookie banners in web data. Distinct from
    * text_seg_dedup (corpus-wide df ≥ 2 DROP): this ranks WITHIN-source
    * template mass without touching documents. The ratio threshold is
    * exact integer cross-multiplication (df·20 ≥ n_docs), no doubles in
    * the predicate. Scale shape: per-source doc counts are an O(sources)
    * broadcast; segment df is one map-side-combined aggregate. Grouping
    * here keys on the segment TEXT (segments are ≤ 10 tokens; the gate
    * needs text-exact grouping to match the oracle) — at 100 TB you'd
    * group on xxhash64(seg) and resolve representatives after the df
    * filter, exactly the [[textSegDedup]] hash discipline. */
  private def textBoilerplate: Q = (s, d) => {
    val toks = split(col("text"), " ")
    val nSegs = ceil(size(toks).cast("double") / 10.0).cast("int")
    val segArr = transform(sequence(lit(0), nSegs - 1),
      j => concat_ws(" ", slice(toks, j * 10 + 1, lit(10))))
    val docs = t(s, d, "documents")
    val nDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val segs = fanOut(docs)
      .select(col("source"), col("doc_id"), explode(segArr).as("seg"))
    segs.groupBy("source", "seg")
      .agg(count_distinct(col("doc_id")).as("df"))
      .join(broadcast(nDocs), "source")
      .where(col("df") >= 2 && col("df") * 20 >= col("n_docs"))
      .select(col("source"), col("seg"), col("df"), col("n_docs"),
        (col("df").cast("double") / col("n_docs")).as("df_ratio"))
      .orderBy(col("source"), col("df").desc, col("seg"))
  }

  /** Substring-level exact dedup (the "substring dedup" of Lee et al.
    * 2022, re-expressed for a fixed window): every k=20-token sliding
    * window of every document is fingerprinted, and a fingerprint
    * occurring ≥2 times ANYWHERE in the corpus (cross-document or a
    * within-document repeat) marks duplicated text. Output is the
    * per-document gate a pipeline filters on: window count, duplicated-
    * window count, and flagged (≥20% duplicated). True suffix-array
    * dedup catches variable-length repeats but needs a global sort of
    * every suffix; the fixed-k window is the distributed equivalent —
    * any repeated span of ≥ k tokens is caught by its constituent
    * windows, and the plan is two linear passes.
    *
    * Scale shape: tokens materialize as an attribute BEFORE the window
    * lambda (referencing a computed split() inside the lambda would
    * re-split per window — the text_winnow lesson, SURVEY 8c-3); only
    * (doc_id, 16-byte md5) pairs cross the single shuffle — text never
    * moves; occurrence counting is a partition-by-hash window over that
    * one exchange, not a second groupBy+join shuffle. */
  private def dedupSubstring: Q = (s, d) => {
    val k = 20
    val base = fanOut(t(s, d, "documents"))
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= k)
    val wins = base.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("t")) - (k - 1)),
        i => md5(concat_ws(" ", slice(col("t"), i, lit(k)))))).as("h"))
    val counted = wins.withColumn("cnt",
      count(lit(1)).over(Window.partitionBy("h")))
    counted.groupBy("doc_id")
      .agg(count(lit(1)).as("n_win"),
        count(when(col("cnt") >= 2, 1)).as("n_dup_win"))
      .withColumn("flagged", col("n_dup_win") * 5 >= col("n_win"))
      .orderBy("doc_id")
  }

  /** Substring-dedup REMOVAL semantics (Lee et al.
    * 2022 produce a CLEANED corpus, not just flags): every token
    * covered by a duplicated k=20 window (fingerprint occurring ≥2
    * times corpus-wide, the exact [[dedupSubstring]] rule) is excised
    * and the surviving tokens are reassembled in order. Output per
    * document: clean_text, token count, removed-token count — the
    * corpus a pipeline would actually train on.
    *
    * Scale shape: the flag side is [[dedupSubstring]]'s two linear
    * passes (only (doc_id, window-start, 16-byte md5) cross the
    * shuffle — text never moves); the removal side brings ONLY the
    * per-doc sorted list of duplicated window STARTS back to the
    * document row (an O(dup windows) array, not per-token rows), and
    * token excision is LINEAR per document — the starts expand to
    * their covered positions (≤ k per start) and one hash-set
    * difference (`array_except` builds an OpenHashSet over the
    * covered side) keeps the uncovered positions in order, O(tokens +
    * k·dup-starts), with O(1) `element_at` lookups mapping survivors
    * back to tokens. A per-token `exists` over the starts array would
    * be a super-linear per-row lambda (O(tokens ×
    * dup-starts): a long, heavily self-duplicated document goes
    * quadratic in one projection — the text_winnow class); LlmSpec
    * pins the rewrite bit-identical to that formulation. Further
    * pins: flagged windows' tokens are all removed, survivors are an
    * in-order subsequence of the original, and flag-free documents
    * pass through verbatim. */
  private def dedupSubstringRemove: Q = (s, d) => {
    val k = 20
    val docs = t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val base = fanOut(docs).where(size(col("t")) >= k)
    val wins = base.select(col("doc_id"),
      posexplode(transform(sequence(lit(1), size(col("t")) - (k - 1)),
        i => md5(concat_ws(" ", slice(col("t"), i, lit(k))))))
        .as(Seq("i0", "h")))
    val counted = wins.withColumn("cnt",
      count(lit(1)).over(Window.partitionBy("h")))
    val dupStarts = counted.where(col("cnt") >= 2)
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("i0") + 1)).as("starts"))
    docs.join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("t"),
        coalesce(col("starts"), array().cast("array<int>")).as("starts"))
      // covered = ∪ [st, st+k−1]; kept = positions ∖ covered (ordered).
      .select(col("doc_id"), col("t"),
        transform(
          array_except(
            sequence(lit(1), size(col("t"))),
            flatten(transform(col("starts"),
              st => sequence(st, st + (k - 1))))),
          p => element_at(col("t"), p)).as("kept"),
        size(col("t")).cast("long").as("n_tokens"))
      .select(col("doc_id"),
        concat_ws(" ", col("kept")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"))
      .orderBy("doc_id")
  }

  /** Perceptual-hash near-dup over REAL images — the image-dedup analog
    * of minhash (a re-encoded/re-saved image is byte-different but
    * perceptually identical). The fixture pairs each BMP original with
    * a PNG re-encode of the same pixels (±1-LSB noise on ~1/16 of
    * pixels — see [[graft.ops.Media]]): different container, different
    * bytes, same picture. Decode is REAL `javax.imageio`; the hash is a
    * 64-bit average-hash over the decoded 8×8 luma thumbnail
    * ([[Media.ahash]], all-integer). Dedup machinery: LSH-banded into
    * 8×8-bit bands so any pair within hamming ≤ 7 shares at least one
    * band (pigeonhole), candidate pairs verified by exact
    * popcount(xor) ≤ 4. The pinned oracle (tools/phash_oracle.py,
    * codec-free python over the pixel spec) shows each original pairs
    * ONLY with its own re-encode. Scale shape: per-row decode kernel →
    * 8 band rows/image (16 bytes each) shuffle; pixels never move. */
  private def dedupPhash: Q = (s, _) => {
    val sp = s
    import sp.implicits._
    val hashes = Media.load(s, "img_").as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (name, bytes) =>
          val (w, h, luma) = Media.decodeLuma(bytes)
          (name, Media.ahash(w, h, luma))
        }
      }
      .toDF("img_id", "phash")
    val bands = hashes.select(col("img_id"), col("phash"),
      posexplode(array((0 until 8).map(b =>
        shiftrightunsigned(col("phash"), b * 8).bitwiseAND(lit(255L))): _*))
        .as(Seq("band_idx", "band_val")))
    bands.select(col("img_id").as("a_id"), col("phash").as("a_hash"),
        col("band_idx"), col("band_val"))
      .join(bands.select(col("img_id").as("b_id"), col("phash").as("b_hash"),
        col("band_idx"), col("band_val")), Seq("band_idx", "band_val"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_hash").bitwiseXOR(col("b_hash"))).cast("long")
          .as("hamming"))
      .groupBy("a_id", "b_id")
      .agg(min(col("hamming")).as("hamming"))
      .where(col("hamming") <= 4)
      .orderBy("a_id", "b_id")
  }

  /** Compression-ratio quality filter (Gopher-style): documents that
    * compress too well are repetitive boilerplate — the cheapest
    * corpus-scale proxy for the repetition rules, and the one signal
    * that catches templated spam n-gram rules miss. Per doc:
    * zlib-compressed length via the native [[graft.expr.DeflateLen]]
    * kernel (one static call/row inside whole-stage codegen, a
    * thread-local Deflater, no native churn); flag when
    * comp·100 < raw·45 (ratio < 0.45, integer compare). Only
    * (lang, source, two longs) leave the scan — text never shuffles,
    * and the aggregate is map-side combinable: at 100 TB this is one
    * pass over the corpus with O(groups) shuffle rows.
    *
    * Oracle: pinned per-group totals computed by CPython zlib — an
    * implementation independent of the JVM Deflater under test; both
    * wrap the same zlib codec, byte-identical at fixed level 6
    * (verified), so the pin is exact, not a tolerance. The final ratio
    * is one IEEE division over identical integer operands. */
  private def textCompressRatio: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("lang"), col("source"),
        octet_length(col("text")).cast("long").as("raw_len"),
        expr("deflate_len(text)").as("comp_len"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("raw_len")).as("raw_bytes"),
        sum(col("comp_len")).as("comp_bytes"),
        sum(when(col("comp_len") * 100 < col("raw_len") * 45, 1L)
          .otherwise(0L)).as("n_flagged"))
      .withColumn("ratio",
        col("comp_bytes").cast("double") / col("raw_bytes"))
      .orderBy("lang", "source")

  /** Count-based character-bigram LM scoring — the perplexity-filter
    * analog (CCNet-style: score each document by how typical its
    * character sequences are under a corpus-trained model) in EXACT
    * integer math so the oracle hash-matches: the model is the corpus
    * bigram frequency table, a document's score is the mean corpus
    * support of its bigram occurrences (integer sums, ONE IEEE division
    * — bit-identical in any engine, davg6 discipline), and keep/drop
    * compares against half the corpus-mean score derived the same way.
    * Scale shape: the model is bounded by charset² → broadcast; the
    * corpus explodes to (bigram, doc_id) pairs that probe it map-side;
    * one shuffle re-aggregates per doc. The two corpus totals that
    * anchor the threshold are coordinator metadata (two longs), exactly
    * like the zorder range bounds. */
  private def textLmScore: Q = (s, d) => {
    val bgs = fanOut(t(s, d, "documents"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), length(col("text")) - 1),
        i => col("text").substr(i, lit(2)))).as("b"))
    // The model is a train-once artifact (score many corpora against
    // it) — checkpointed per (process, input dir) like the minhash
    // signatures, so repeated queries measure the SCORING probe.
    val model = Scratch.table(s, Scratch.path("lm_model", d)) {
      bgs.groupBy("b").agg(count(lit(1)).as("f"))
    }
    val scored = bgs.join(broadcast(model), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("f")).as("support"))
    // The corpus totals anchor the threshold, and both are derivable
    // from the MODEL alone: Σ_docs support = Σ_b f(b)·f(b) (each of the
    // f(b) occurrences of b contributes f(b)) and Σ n_bigrams = Σ_b
    // f(b) — identical exact integers, so the threshold action scans
    // the O(charset²) artifact instead of re-exploding the corpus
    // (a scored.agg().head would re-run the bigram explode + probe a
    // second time — half of this key's steady-state task CPU).
    val g = model.agg(sum(col("f") * col("f")), sum(col("f"))).head
    val half = 0.5 * (g.getLong(0).toDouble / g.getLong(1))
    scored
      .select(col("doc_id"), col("n_bigrams"), col("support"),
        (col("support").cast("double") / col("n_bigrams")).as("lm_score"))
      .withColumn("keep",
        col("lm_score") >= lit(half))
      .orderBy("doc_id")
  }

  /** Word-bigram PERPLEXITY scoring — the other half of the CCNet
    * perplexity-filter recipe next to [[textLmScore]]'s support mean:
    * train an add-one-smoothed word-bigram LM on the corpus, then score
    * every document by per-token cross-entropy
    * H = (Σ ln(c(prev)+V) − Σ ln(c(prev,word)+1)) / n_bigrams and
    * perplexity e^H — low-perplexity docs read like the corpus, the
    * high tail is boilerplate/noise. Unlike the char-bigram model the
    * word-bigram table is NOT charset-bounded, so the model probe is an
    * EQUI JOIN on (prev, word) (shuffle keys are two words + a count —
    * text never moves), not a broadcast; at 100 TB you'd additionally
    * prune the model to top-k bigrams + an OOV backoff row, which
    * changes no plan shape. The only floats are ln() of exact integers
    * accumulated per doc and rounded to 6 decimals — ~1e-13 relative
    * summation noise against a 1e-6 grid, so the hash gate holds across
    * engines. Single-token docs have no bigrams and drop out (same
    * inner-join semantics in the oracle). */
  private def textPerplexity: Q = (s, d) => {
    val toks = fanOut(t(s, d, "documents"))
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val inst = toks.select(col("doc_id"),
      explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (p, w) => struct(p.as("p"), w.as("w")))).as("bg"))
      .select(col("doc_id"), col("bg.p").as("p"), col("bg.w").as("w"))
    // Train-once artifact, checkpointed like the lm_model/minhash
    // signatures so repeated queries measure the scoring probe.
    val model = Scratch.table(s, Scratch.path("ppl_model", d)) {
      inst.groupBy("p", "w").agg(count(lit(1)).as("cbi"))
    }
    val prefix = model.groupBy("p").agg(sum(col("cbi")).as("cp"))
    val vocab = toks.select(explode(col("tk")).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    inst.join(model, Seq("p", "w"))
      .join(prefix, Seq("p"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log(col("cp") + col("v"))).as("sden"),
        sum(log(col("cbi") + lit(1L))).as("snum"))
      .select(col("doc_id"), col("n_bigrams"),
        round((col("sden") - col("snum")) / col("n_bigrams"), 6).as("h_nats"),
        round(exp((col("sden") - col("snum")) / col("n_bigrams")), 4)
          .as("ppl"))
      .orderBy("doc_id")
  }

  /** Shingle-CONTAINMENT scoring — the asymmetric sibling of Jaccard
    * that catches EXCERPTS (a quote, a syndicated paragraph, a doc
    * embedded in a larger one): containment |A∩B| / min(|A|,|B|) stays
    * high when one side is much bigger, exactly where Jaccard collapses
    * and the whole minhash family goes blind. Per doc: best-containment
    * partner via an exact shingle inverted index (a qualifying pair
    * must share a shingle, so the index loses nothing — the
    * [[dedupMinhashRecall]] truth-side argument), intersection counts
    * are exact integers, containment ONE IEEE division, and the excerpt
    * flag (≥ 0.8) is integer cross-multiplication (5·inter ≥ 4·min).
    *
    * Scale shape (in the registered plan):
    * raw inverted-index work is ∝ Σ shingle-df², so the plan (a) joins
    * on the 64-bit xxhash64 of the shingle, not the string — long
    * compares and 8-byte shuffle rows (the [[dedupNgram]] argument);
    * (b) drops df=1 singletons from the pair join — PROVABLY lossless,
    * a singleton can never intersect; (c) caps shingle df at
    * [[containmentDfCap]] — one boilerplate mega-shingle at 100× is
    * otherwise the skewed-key full-shuffle scale-killer. Join groups
    * are bounded at dfCap² regardless of corpus size. The cap is a
    * measured NO-OP at both gate SFs (max df 7 at sf0.01, 25 at sf0.1 —
    * pinned capped≡uncapped in LlmSpec) and the oracle applies the
    * identical cap, so semantics agree at ANY SF; when the cap binds,
    * capped inter ≤ true inter ≤ min n_sh, so containment degrades to a
    * conservative lower bound over the discriminative-shingle universe.
    * (d) a shared-shingle count floor ([[containmentFloor]]) pre-filters
    * pairs before the ranking window; 1 is the exactness-preserving
    * setting (best partners sharing exactly one shingle EXIST at both
    * gate SFs — measured), raising it is the 100 TB recall/cost knob
    * that discards single-coincidence pairs before they shuffle again.
    * Sizes (the reported n_sh and the containment denominator) stay
    * UNCAPPED — a linear agg, and it preserves the every-doc-emits-a-
    * row guarantee even for an all-boilerplate doc. Nulls when no
    * candidate shares a shingle. */
  private[graft] val containmentDfCap = 32L
  private[graft] val containmentFloor = 1L

  private[graft] def dedupContainmentPlan(
      s: SparkSession, d: String, dfCap: Long, floor: Long): DataFrame = {
    // Train-once artifact (the minhashSigTable discipline): the hashed
    // shingle postings are read by THREE branches below (sizes, plus
    // the gk build's df agg and join-back) — checkpointing to scratch
    // parquet turns the shingle recomputations into 16-byte-row scans.
    val sh = Scratch.table(s, Scratch.path("containment_sh", d)) {
      fanOut(t(s, d, "documents"))
        .select(col("doc_id"), explode(shingles(col("text"))).as("sh"))
        .select(col("doc_id"), xxhash64(col("sh")).as("sh_h"))
    }
    // Doc sizes are consumed THREE times below (the scored join, the
    // broadcast partner side, the final left join) and each consumer
    // would re-run the full postings scan + agg (graft.Profile: 2 × ~3 s
    // of the warm trial's task time). One row per doc
    // — its own train-once artifact (guide §2.4).
    val sizes = Scratch.table(s, Scratch.path("containment_sizes", d)) {
      sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    }
    // Bounded-memory df: hash-aggregate per shingle,
    // filter to the [2, dfCap] band, join back. The previous windowed
    // form (count over Window.partitionBy(sh_h)) shared one exchange
    // with the self-join but WindowExec materializes each sh_h group in
    // an executor buffer BEFORE the cap filter can drop it — 215 s of
    // task GC at sf0.1, and one boilerplate mega-shingle at 100 TB is a
    // single unbounded buffer. The hash agg carries one counter per
    // distinct shingle (spillable partial/final state, map-side
    // combine), hot shingles above the cap never re-enter any join,
    // and the join back lands on the same sh_h hash partitioning the
    // pair self-join needs. Row set identical by construction: a row
    // survives iff its shingle's group count is in [2, dfCap].
    // The capped postings checkpoint to scratch (path keyed by the df
    // cap — LlmSpec's capped≡uncapped pin runs other caps through the
    // same plan); without the artifact the pair kernel would re-run the
    // df agg + join-back lineage (the dedup_ngram stage-profile finding,
    // same family). The kernel reads gk exactly once.
    val gk = Scratch.table(s, Scratch.path(s"containment_gk_$dfCap", d)) {
      val dfTab = sh.groupBy("sh_h").agg(count(lit(1)).as("df"))
        .where(col("df") >= 2 && col("df") <= dfCap)
      sh.join(dfTab.select("sh_h"), Seq("sh_h"))
    }
    // Pair generation as GROUP-THEN-COMBINE instead of an a⋈b
    // self-join (guide §2.4/§2.3) — see [[containmentSymPairs]] for
    // the kernel and its equivalence argument.
    val sym = containmentSymPairs(s, gk, floor)
    val scored = sym
      .join(sizes, "doc_id")
      .join(broadcast(sizes.select(col("doc_id").as("partner"),
        col("n_sh").as("n_partner"))), "partner")
      .withColumn("min_sh", least(col("n_sh"), col("n_partner")))
      .withColumn("containment",
        col("inter").cast("double") / col("min_sh"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("containment").desc, col("partner"))
    val best = scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("partner"), col("inter"), col("min_sh"),
        col("containment"))
    sizes.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"), col("partner"), col("inter"),
        col("containment"),
        coalesce(col("inter") * 5 >= col("min_sh") * 4, lit(false))
          .as("is_excerpt"))
      .orderBy("doc_id")
  }

  /** Symmetric shared-shingle pair counts (doc_id, partner, inter ≥
    * floor) over capped postings `gk` (doc_id, sh_h). An a⋈b
    * self-join would scan + shuffle the postings twice and pay
    * the join machinery to rediscover rows sharing a shingle —
    * information one groupBy already has (guide §2.4/§2.3). The
    * combine stage is COMPUTE-bound with a guaranteed ~dfCap² output
    * amplification per group, but AQE sizes the post-agg stage by its
    * input BYTES (1.6 MB at sf0.1 → ONE task doing 2.7 s of pair
    * generation — the dedup_fuzzy pathology), so the groupBy rides
    * a user-numbered repartition at the session shuffle width (one
    * exchange total; AQE does not coalesce REPARTITION_BY_NUM; the
    * width is the session's scale knob, not a local[32] constant).
    * Both pair directions come out of the same combine — the old code
    * computed the pair aggregate once per union branch, duplicating
    * the whole join subtree in the final plan. Per-shingle doc lists
    * are BOUNDED at dfCap by construction (only df ≤ dfCap shingles
    * survive gk) — no unbounded collect_list at any scale. The pair
    * enumeration itself is two chained explodes + a value-inequality
    * filter — whole-stage-codegen'd Generate nodes, no lambda
    * interpretation, no struct allocation, no per-group sort (guide
    * item 4: keep the hot path inside codegen; a nested
    * transform/flatten/filter HOF chain A/B'd equal-within-noise on
    * wall but with 0.8 s of combine-stage GC this version doesn't
    * allocate — kept for the simpler, allocation-free kernel). Pair
    * multiset identical to the join's: the
    * join emitted each ordered pair of distinct-valued rows of a
    * shingle group exactly once per (row_a, row_b) combination —
    * i.e. multiplicity cnt(x)·cnt(y) per direction — and the double
    * explode over the group list with doc_id ≠ partner enumerates
    * precisely that. LlmSpec pins the equivalence against the self-join
    * shape directly. */
  private[graft] def containmentSymPairs(s: SparkSession, gk: DataFrame,
      floor: Long): DataFrame =
    gk.repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("sh_h"))
      .groupBy("sh_h")
      .agg(collect_list(col("doc_id")).as("ids"))
      .select(explode(col("ids")).as("doc_id"), col("ids"))
      .select(col("doc_id"), explode(col("ids")).as("partner"))
      .where(col("doc_id") =!= col("partner"))
      .groupBy("doc_id", "partner")
      .agg(count(lit(1)).as("inter"))
      .where(col("inter") >= floor)

  private def dedupContainment: Q = (s, d) =>
    dedupContainmentPlan(s, d, containmentDfCap, containmentFloor)

  /** Fixed BM25 query terms — mixed selectivity on the synthetic
    * vocabulary ('dup' is the rare ~5%-df marker, the others common). */
  private[graft] val bm25Terms = Seq("dup", "spark", "vector", "merge")

  /** BM25 RELEVANCE RANKING (Robertson k1=1.2 b=0.75, Lucene's
    * ln(1 + (N−df+½)/(df+½)) idf so common terms score small-positive
    * instead of negative) — the retrieval scorer next to [[textTfidf]]'s
    * salience: top-20 docs for a fixed 4-term query. Determinism
    * discipline: per-(doc,term) contributions are each ONE fixed IEEE
    * chain off exact integers (tf, dl, df, N; avgdl enters as one
    * division), and the per-doc score sums the 4 terms in FIXED COLUMN
    * ORDER via conditional aggregation — no hash-agg fold-order hazard;
    * the only cross-engine wobble is ln()'s last ulp, absorbed by the
    * 1e-6 rounding grid (the [[textPerplexity]] discipline). Scale
    * shape: the term filter reaches the token explode (only query-term
    * instances survive the map stage — at 100 TB the posting shuffle is
    * O(docs containing query terms), the corpus never moves), doc
    * lengths are one map-side-combined agg, df/N are O(terms)/O(1)
    * broadcasts. */
  private def rankBm25: Q = (s, d) => {
    val toks = fanOut(t(s, d, "documents"))
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val dl = toks.select(col("doc_id"), size(col("tk")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val tf = toks.select(col("doc_id"), explode(col("tk")).as("tok"))
      .where(col("tok").isin(bm25Terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val avgdl = col("tot_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    val scored = tf.join(broadcast(df), "tok").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", contrib)
    val termCols = bm25Terms.map(q =>
      coalesce(max(when(col("tok") === q, col("contrib"))), lit(0.0)))
    scored.groupBy("doc_id")
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("n_terms"),
        round(termCols.reduce(_ + _), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** RECIPROCAL-RANK FUSION (Cormack/Clarke/Buettcher '09, k=60) of two
    * retrieval lists — the standard hybrid-search merge (lexical BM25 ∪
    * a second signal; here [[textQuality]]'s quality prior stands in for
    * the dense leg): each list contributes 1/(60+rank) for its top-20,
    * absent docs contribute 0. Determinism: ranks are row_numbers over
    * already-grid-rounded scores with doc_id tie-breaks, and the fused
    * score is a FIXED two-term IEEE chain (each term one division of
    * exact integers) — no fold-order hazard, the 1e-6 grid only guards
    * the cross-engine round. Scale shape: fusion touches only the two
    * top-k lists (≤ 2k rows — driver-free, a broadcast-size full-outer
    * join), so cost is entirely the upstream retrievals; at 100 TB each
    * leg's top-k is a map-side sort-limit and fusion stays O(k). */
  private def rankRrf: Q = (s, d) => {
    val wa = Window.orderBy(col("score").desc, col("doc_id"))
    val a = rankBm25(s, d)
      .select(col("doc_id"), row_number().over(wa).cast("long").as("bm25_rank"))
    val wb = Window.orderBy(col("quality").desc, col("doc_id"))
    val b = textQuality(s, d)
      .select(col("doc_id"), col("quality"))
      .orderBy(col("quality").desc, col("doc_id")).limit(20)
      .select(col("doc_id"), row_number().over(wb).cast("long").as("quality_rank"))
    val fused = a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_rank"), col("quality_rank"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("bm25_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("quality_rank")), lit(0.0)),
          6).as("rrf_score"))
    fused
      .select(
        row_number().over(Window.orderBy(col("rrf_score").desc, col("doc_id")))
          .cast("long").as("fused_rank"),
        col("doc_id"), col("bm25_rank"), col("quality_rank"), col("rrf_score"))
      .orderBy("fused_rank")
  }

  /** MAXIMAL MARGINAL RELEVANCE (Carbonell/Goldstein '98, λ=½ so the
    * argmax reduces to relevance − max-similarity-to-selected, a pure
    * integer margin): diversify the top of a retrieval list — greedy
    * pick 8 of the 16 most query-relevant embeddings, each round taking
    * the candidate with the best margin (ties → min vec_id). Everything
    * is exact: vectors on the 1e-6 integer grid ([[embedPca]]/
    * sample_kcenter discipline), relevance and pairwise similarity are
    * integer dot products, so engine and oracle match bit-for-bit.
    * Scale shape: the DISTRIBUTED work is the candidate pool — one
    * corpus scan against a broadcast query vector + a map-side
    * sort-limit top-16; the greedy loop then runs on the O(k²)=256-pair
    * similarity table, a driver-side control-plane constant (same
    * budget as ml_kmeans' 8 centroid literals). At 100 TB only k and
    * the scan change nothing: pool extraction dominates and shuffles
    * k rows. */
  private def simMmr: Q = (s, d) => {
    val k = 8
    val base = t(s, d, "embeddings").select(col("vec_id"),
      roundedGrid(col("embedding")).as("qarr"))
    val qv = base.where(col("vec_id") === 0).head.getSeq[Long](1).toArray
    val relCol = aggregate(
      zip_with(col("qarr"), array(qv.map(lit): _*), (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)
    val pool = base.where(col("vec_id") =!= 0)
      .select(col("vec_id"), relCol.as("rel"), col("qarr"))
      .orderBy(col("rel").desc, col("vec_id")).limit(16)
    val pr = pool.select("vec_id", "rel", "qarr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    val sim = (for { a <- pr; b <- pr if a._1 != b._1 } yield
      ((a._1, b._1), a._3.zip(b._3).map { case (x, y) => x * y }.sum)).toMap
    var selected = Vector.empty[(Int, Long, Long, Long)] // k, id, rel, mmr
    for (r <- 1 to k) {
      val chosen = selected.map(_._2).toSet
      val pick = pr.iterator.filterNot(c => chosen(c._1)).map { c =>
        val margin =
          if (chosen.isEmpty) c._2
          else c._2 - chosen.iterator.map(sid => sim((c._1, sid))).max
        (c._1, c._2, margin)
      }.toVector.sortBy(p => (-p._3, p._1)).head
      selected :+= ((r, pick._1, pick._2, pick._3))
    }
    s.createDataFrame(selected).toDF("k", "vec_id", "relevance", "mmr_score")
      .orderBy("k")
  }

  /** URL-canonicalization dedup — the first dedup pass of every web
    * corpus (pages fetched under cosmetically different URLs are the
    * same page): case-folded scheme/host, default port stripped,
    * fragments dropped, tracking params removed, trailing slash
    * normalized, then exact dedup on the canonical form. The corpus has
    * no URL column, so deterministically messy URLs are synthesized per
    * doc (same expression in the oracle); the canonicalization chain is
    * the operator under test. Scale shape: pure per-row projection +
    * one hash shuffle on the canonical string — no text ever moves. */
  private def dedupUrl: Q = (s, d) => {
    val messy = concat(
      lit("https://"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("CDN"), pmod(col("doc_id"), lit(7)), lit(".EXAMPLE.COM")))
        .otherwise(concat(lit("cdn"), pmod(col("doc_id"), lit(7)),
          lit(".example.com"))),
      when(pmod(col("doc_id"), lit(4)) === 0, lit(":443")).otherwise(lit("")),
      lit("/docs/"), pmod(col("doc_id"), lit(50)),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 1, lit("?utm_source=feed"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit("#s"), pmod(col("doc_id"), lit(11)))).otherwise(lit("")))
    // RE2-safe patterns only (no lookahead) so the DuckDB oracle runs
    // the identical chain; ':443' is always followed by '/' here.
    val canonical =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(messy), "#.*$", ""),
            "\\?utm_[^#]*", ""),
          ":443/", "/"),
        "(.)/$", "$1")
    t(s, d, "documents")
      .select(col("doc_id"), canonical.as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min(col("doc_id")).as("keeper"),
        count(lit(1)).as("n_docs"))
      .orderBy("canonical_url")
  }

  /** Train/eval decontamination (the GPT-3-style n-gram overlap check):
    * documents 0-4 are the held-out benchmark; every training doc
    * sharing any verbatim 4-token gram with them is flagged with its
    * shared-gram count. The eval gram set is tiny at any corpus scale —
    * it BROADCASTS, so the corpus side is one scan + map-side hash
    * probe; the only shuffle carries the MATCHING grams (rare by
    * construction), partially aggregated before the exchange. */
  private def decontaminate: Q = (s, d) => {
    val toks = split(col("text"), " ")
    val gramArr = array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - 3, lit(1))),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
        element_at(toks, i + 2), element_at(toks, i + 3))))
    val grams = fanOut(t(s, d, "documents"))
      .where(size(toks) >= 4)
      .select(col("doc_id"), explode(gramArr).as("g"))
    val evalGrams = grams.where(col("doc_id") < 5).select("g").distinct()
    val hits = grams.where(col("doc_id") >= 5)
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
    t(s, d, "documents").where(col("doc_id") >= 5)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered decontamination — [[decontaminate]]'s 100 TB
    * shape (reference sanitize/dedup intent, child.py:44-66,
    * generalized). At production scale the benchmark's distinct 4-gram
    * set is many GB — too big to broadcast as exact strings — so it is
    * compressed into an m=4096-bit / k=3 BLOOM bitset built from three
    * md5-derived positions per gram (md5 so the oracle reproduces every
    * bit), carried as a 64-row (word, bits) table and broadcast in
    * ~512 bytes. Every corpus gram is bit-tested BEFORE any string
    * joins: only bloom-passing grams (true hits plus the ~0.1% false
    * positives this query counts) reach the exact verification join, so
    * the string shuffle is proportional to the contamination rate, not
    * the corpus — the standard production decontamination scan shape.
    * Bloom membership has NO false negatives (a present gram's bits are
    * set by construction), so after verification the contaminated flags
    * equal [[decontaminate]]'s exact flags bit-for-bit; LlmSpec pins
    * that identity, the superset law n_bloom ≥ n_exact, and
    * false-positive liveness (the filter is actually being exercised,
    * not sized into triviality).
    *
    * Wall-vs-task attribution: nothing here is a
    * driver-side collect — the 64-row bitmap is an ordinary broadcast
    * exchange built by executors. The ~0.6 s standalone wall against
    * ~60 ms of task time (BENCH detail: 4 jobs, 4 tasks) is the
    * per-JOB planning/analysis floor of a 4-job query at sf0.1 task
    * sizes — a CONSTANT, not data-scaled (the gram explode and joins
    * grow with the corpus; job count does not). An in-suite 2.9 s
    * reading was suite-JVM aging on top of that constant — Bench's
    * `driver_ms` + `#standalone` detail rows measure it instead of
    * inferring it. */
  private def dedupBloom: Q = (s, d) => {
    val m = 4096L
    val toks = split(col("text"), " ")
    val gramArr = array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - 3, lit(1))),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
        element_at(toks, i + 2), element_at(toks, i + 3))))
    val grams = fanOut(t(s, d, "documents"))
      .where(size(toks) >= 4)
      .select(col("doc_id"), explode(gramArr).as("g"))
    def pos(j: Int): Column =
      pmod(conv(substring(md5(concat(lit(s"$j|"), col("g"))), 1, 8), 16, 10)
        .cast("long"), lit(m))
    val posArr = array(pos(0), pos(1), pos(2))
    val ev = grams.where(col("doc_id") < 5).select("g").distinct()
    val bitmap = ev
      .select(explode(posArr).as("p"))
      .select(shiftright(col("p"), 6).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))")
          .as("mask"))
      .groupBy("word").agg(bit_or(col("mask")).as("bits"))
    val pass = grams.where(col("doc_id") >= 5)
      .select(col("doc_id"), col("g"), explode(posArr).as("p"))
      .select(col("doc_id"), col("g"), shiftright(col("p"), 6).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))")
          .as("mask"))
      .join(broadcast(bitmap), Seq("word"), "left")
      .groupBy("doc_id", "g")
      .agg(sum(when(coalesce(col("bits"), lit(0L))
        .bitwiseAND(col("mask")) =!= 0, 1L).otherwise(0L)).as("nbits"))
      .where(col("nbits") === 3)
      .select("doc_id", "g")
    val nBloom = pass.groupBy("doc_id").agg(count(lit(1)).as("n_bloom"))
    val nExact = pass.join(broadcast(ev), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_exact"))
    t(s, d, "documents").where(col("doc_id") >= 5).select(col("doc_id"))
      .join(nBloom, Seq("doc_id"), "left")
      .join(nExact, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bloom"), lit(0L)).as("n_bloom"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        (coalesce(col("n_bloom"), lit(0L)) -
          coalesce(col("n_exact"), lit(0L))).as("n_false_pos"),
        (coalesce(col("n_exact"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Top PRINCIPAL COMPONENT of the embedding corpus — the first
    * dimensionality-reduction/analytics primitive (what you run before
    * whitening, ABTT outlier-direction removal, or a variance audit of
    * an embedding model). Exactness strategy: floats are quantized to
    * exact 1e-6-grid integers (floor(x·1e6+0.5), one IEEE chain), the
    * CENTERED second-moment matrix is the all-integer identity
    * G = n·Σqqᵀ − (Σq)(Σq)ᵀ (no rational mean, no float sums), and the
    * power iteration runs 40 rounds of integer matrix-vector products
    * with a deterministic integer rescale x ← w ÷ (max|w| ÷ 2⁴⁰ + 1)
    * (÷ = truncate-toward-zero — java BigInteger and DuckDB `//`
    * agree), so EVERY intermediate is bit-identical across engines; the
    * only floats are the final unit normalization and Rayleigh
    * quotient, each one IEEE op chain from exact integers. The oracle
    * unrolls the identical 40 rounds as materialized HUGEINT CTEs.
    *
    * Scale shape: the corpus is touched ONCE — per row a d²-term outer
    * product flatMap feeding a map-side-combined groupBy onto d²=4096
    * cells (shuffle rows: 4096 per partition max, not per vector);
    * the iteration itself is driver-side control-plane on the 64×64
    * integer matrix (BigInt, ~82 K multiplies). Long-sum headroom:
    * Σ qᵢqⱼ ≤ n·(5.3e5)² — good to ~3e7 vectors; past that lift the
    * cell sums to DECIMAL(38,0) unchanged. HUGEINT headroom in the
    * oracle: products bounded by 2⁴⁰·maxG·d < 2¹²⁷ to ~1e6 vectors. */
  private def embedPca: Q = (s, d) => {
    val rounds = 40
    val scaleBits = 40
    val base = t(s, d, "embeddings").select(col("vec_id"),
      roundedGrid(col("embedding")).as("qarr"))
    val cells = base
      .select(col("qarr"), posexplode(col("qarr")).as(Seq("i", "qi")))
      .select(col("i"), col("qi"), posexplode(col("qarr")).as(Seq("j", "qj")))
      .groupBy("i", "j").agg(sum(col("qi") * col("qj")).as("ssv"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val sv = base.select(posexplode(col("qarr")).as(Seq("i", "qi")))
      .groupBy("i").agg(sum(col("qi")).as("sv"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = BigInt(base.count())
    val dim = sv.size
    require(dim > 0, "embed_pca: empty embedding corpus")
    val g = Array.tabulate(dim, dim)((i, j) =>
      n * BigInt(cells((i, j))) - BigInt(sv(i)) * BigInt(sv(j)))
    val scale = BigInt(1) << scaleBits
    var x = Array.fill(dim)(BigInt(1))
    for (_ <- 1 to rounds) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).foldLeft(BigInt(0))((a, j) => a + g(i)(j) * x(j)))
      val mx = w.map(_.abs).max
      require(mx > 0, "embed_pca: zero matrix-vector product")
      val dv = mx / scale + 1
      x = w.map(_ / dv) // BigInt / truncates toward zero — matches //
    }
    val nrm = math.sqrt(x.foldLeft(BigInt(0))((a, v) => a + v * v).toDouble)
    val xr = x.map(_ / BigInt(1 << 20))
    val num = (0 until dim).foldLeft(BigInt(0))((a, i) =>
      a + xr(i) * (0 until dim).foldLeft(BigInt(0))((b, j) =>
        b + g(i)(j) * xr(j)))
    val den = xr.foldLeft(BigInt(0))((a, v) => a + v * v)
    def r6(v: Double, sc: Int) = new java.math.BigDecimal(v)
      .setScale(sc, java.math.RoundingMode.HALF_UP).doubleValue
    val ray = r6(num.toDouble / den.toDouble, 4)
    val out = (0 until dim).map(i =>
      (i.toLong, r6(x(i).toDouble / nrm, 6), ray))
    s.createDataFrame(out).toDF("dim", "component", "rayleigh")
      .orderBy("dim")
  }

  /** Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1,
    * public): the published pre-training heuristics re-expressed as
    * EXACT integer laws so the gate is engine-invariant — every ratio
    * threshold is cross-multiplied (10·letters ≥ 40·words instead of
    * mean ≥ 4.0), no doubles anywhere. Rules, thresholds adapted to
    * this corpus's measured distributions (10–99 words, closed
    * lowercase vocab) so each rule is LIVE at every gate SF (both
    * outcomes occur; LlmSpec pins liveness):
    *   r_count    word count in [20, 80]        (Gopher: [50, 100k])
    *   r_wordlen  mean word length in [4.0,4.5] (Gopher: [3, 10])
    *   r_dupfrac  duplicate-word fraction ≤ 0.6 (Gopher repetition §)
    *   r_stop     ≥ 2 distinct stop words       (Gopher: ≥ 2 of 8)
    * One pass over the corpus, all four laws codegen'd into the scan
    * projection — at 100 TB this is the cheapest filter in the
    * pipeline and runs first. */
  private def textGopher: Q = (s, d) => {
    val tk = split(col("text"), " ")
    val stops = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
    t(s, d, "documents").select(
      col("doc_id"), col("source"),
      size(tk).cast("long").as("n_words"),
      length(translate(col("text"), " ", "")).cast("long").as("n_letters"),
      size(array_distinct(tk)).cast("long").as("n_distinct"),
      size(array_intersect(tk, stops)).cast("long").as("n_stop"))
      .withColumn("r_count", col("n_words") >= 20 && col("n_words") <= 80)
      .withColumn("r_wordlen",
        col("n_letters") * 10 >= col("n_words") * 40 &&
          col("n_letters") * 10 <= col("n_words") * 45)
      .withColumn("r_dupfrac",
        (col("n_words") - col("n_distinct")) * 10 <= col("n_words") * 6)
      .withColumn("r_stop", col("n_stop") >= 2)
      .withColumn("keep",
        col("r_count") && col("r_wordlen") && col("r_dupfrac") &&
          col("r_stop"))
      .orderBy("doc_id")
  }

  /** SimHash (64-bit) fingerprints: per-token xxhash64, ±1 vote per
    * bit, sign → fingerprint. One explode + one hash-aggregation with
    * map-side combine — O(tokens) work, O(1) state per doc. Returns
    * (doc_id, fp_hi, fp_lo) as two 32-bit halves in longs. The vote
    * aggregation is a typed Aggregator ([[graft.expr.SimhashAgg]]): a
    * 64-column declarative sum(when(...)) computes the same thing but
    * its whole-stage codegen compile alone cost ~4 s per session. */
  private def simhashFp(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val votes = udaf(new graft.expr.SimhashAgg)
    fanOut(t(s, d, "documents"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("h"))
      .groupBy("doc_id")
      .agg(votes(col("h")).as("fp"))
      .select(col("doc_id"),
        element_at(col("fp"), 1).as("fp_hi"),
        element_at(col("fp"), 2).as("fp_lo"))
  }

  private def dedupSimhash: Q = (s, d) =>
    simhashFpTable(s, d)
      .select(col("doc_id"),
        format_string("%08x%08x", col("fp_hi"), col("fp_lo")).as("simhash"))
      .orderBy("doc_id")

  /** SimHash near-dup DECISIONS via pigeonhole chunking: any pair with
    * hamming distance ≤ 3 must agree on at least one of four 16-bit
    * fingerprint chunks, so the candidate join is an equi-join on
    * (chunk_idx, chunk_value) — never all-pairs. Exact hamming
    * (bit_count of the xor) then verifies candidates; ≤ 3 → dup of the
    * lowest-id neighbour, mirroring dedup_minhash's policy. Chunk width
    * is the scale knob: wider chunks → fewer, more-precise candidates.
    * Fingerprints ride the chunk rows (one long per side), like the
    * minhash band join. */
  /** Memoized fingerprint checkpoint (same contract as [[Scratch]]):
    * the 64-vote aggregation runs once per (session, dir); the
    * multi-branch pair DAG reads the 2-long-per-doc parquet. */
  private def simhashFpTable(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Scratch.table(s, Scratch.path("simhash_fp", d)) {
      simhashFp(s, d)
    }

  private def dedupSimhashPairs: Q = (s, d) => {
    val fps = simhashFpTable(s, d)
      .select(col("doc_id"),
        (shiftleft(col("fp_hi"), 32).bitwiseOR(col("fp_lo"))).as("fp"))
    val chunks = fps.select(col("doc_id"), col("fp"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("fp"), i * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk_idx", "chunk_val")))
    val cand = chunks
      .select(col("doc_id").as("a_id"), col("fp").as("fp_a"),
        col("chunk_idx"), col("chunk_val"))
      .join(chunks.select(col("doc_id").as("b_id"), col("fp").as("fp_b"),
        col("chunk_idx"), col("chunk_val")),
        Seq("chunk_idx", "chunk_val"))
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(first(bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
        .cast("long").as("hamming"))
    val candCnt = cand.select(col("a_id").as("doc_id"))
      .unionAll(cand.select(col("b_id").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
    val w = Window.partitionBy("b_id").orderBy(col("hamming").asc, col("a_id"))
    val dups = cand.where(col("hamming") <= 3)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("b_id").as("doc_id"), col("a_id").as("dup_of"),
        col("hamming"))
    fps
      .join(candCnt, Seq("doc_id"), "left")
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("dup_of"), col("hamming"),
        when(col("dup_of").isNotNull, lit("dup")).otherwise(lit("keep"))
          .as("decision"))
      .orderBy("doc_id")
  }

  /** Character-4-gram Jaccard near-dup, blocked by (source, lang) — the
    * blocking key bounds the pair space, the 100 TB-safe shape for
    * pairwise similarity. Top-10 most similar pairs.
    *
    * Inverted-index formulation: explode distinct grams, equi-join on
    * (block, gram) so |A∩B| is a join-group count and |A∪B| = |A|+|B|−|∩|.
    * Only pairs sharing ≥1 gram materialize (pairs with jacc=0 can never
    * reach the top-10 here), and the per-pair work is a counting
    * aggregate instead of per-pair hash-set intersection — measured 10×+
    * faster and it scales with shared-gram volume, not pairs×|grams|. */
  /** dedup_ngram's per-block gram-df cap (see the dfCap comment inside
    * [[dedupNgram]]). A named field (not a local) so the scaling
    * preflight's Python mirror (tools/scaling.py RISK_KEYS) can be
    * lockstep-pinned against it by ToolsLockstepSpec (a cap written
    * twice drifts). */
  private[graft] val ngramDfCap = 16L

  private def dedupNgram: Q = (s, d) => {
    // Join on a 64-bit gram hash, not the string: smaller shuffle rows
    // and long-vs-long compares in the hot join. Exact for top-10
    // purposes (a collision would need two distinct grams of one pair
    // to hash equal: ~|A||B|/2^64 per pair).
    // Train-once artifact (the dedupContainment discipline): the gk
    // build below reads these postings TWICE (its df hash-agg and its
    // join-back side) — checkpointing to scratch parquet keeps the
    // explode+hash a single pass (measured at sf10: the double compute
    // held the wall while GC stayed).
    // The gram kernel is the native [[graft.expr.NgramHashes]] pass:
    // the old
    // explode(array_distinct(transform(…substring…))) + xxhash64 chain
    // allocated one UTF8String + byte[] PER GRAM before the explode —
    // 563 s of task GC at the heap ceiling in BENCH_r11's trial-1
    // postings build. The native pass hashes each 4-gram in place off
    // the document's bytes (two primitive arrays per row, zero
    // per-gram objects) and emits the identical distinct-hash set.
    val g = Scratch.table(s, Scratch.path("ngram_g", d)) {
      fanOut(t(s, d, "documents"))
        .select(col("doc_id"), col("source"), col("lang"),
          explode(call_function("ngram_hashes", col("text"))).as("gram_h"))
    }
    // Document-frequency cap: grams present in > dfCap docs of a block
    // carry no discriminative signal but produce O(df²) join groups —
    // the quadratic blow-up at 100× scale. Dropping them bounds every
    // join group at dfCap. (At the sf0.01 correctness scale every block
    // has ≤ 16 docs, so the cap drops nothing and the result is
    // bit-identical to the uncapped query; the oracle applies the same
    // cap.) Jaccard is then over the capped gram universe on BOTH
    // intersection and union sides — consistent semantics. 64 → 16
    // after the 2026-08-14 testdata regen: sf0.1 blocks grew to ~112
    // docs, putting most grams under the old cap and the pair join at
    // 12.2M rows (10.6 s); at 16 the same join is 1.2M rows — and the
    // cap stays a no-op at the sf0.01 gate (max block = exactly 16).
    val dfCap = ngramDfCap
    // Bounded-memory df: hash-aggregate per
    // (block, gram), cap, join back. The earlier windowed form shared
    // an exchange with the self-join, but WindowExec buffers each gram
    // group whole BEFORE the cap can filter it — 153 s of task GC at
    // sf0.1, and a stop-word 4-gram at 100 TB is one unbounded buffer.
    // The hash agg holds one counter per distinct (block, gram) —
    // spillable, map-side-combined — and grams above the cap never
    // reach the join at all. Same row set by construction.
    //
    // CPU shape, two parts (per-stage attribution, graft.Profile: the full
    // query cost 35 task-CPU-seconds at sf0.1 where its stages summed
    // to ~14 run once):
    // (a) the (source, lang, gram_h) key folds to ONE xxhash64 — the
    //     block rides inside the hash, so different blocks can never
    //     join (blocking preserved) and every shuffle/agg/join compares
    //     one long instead of two strings + a long (measured: join-back
    //     9.8 → 5.3 s, pair join 12.5 → 8.8 s task CPU). Collision
    //     class unchanged — gram_h was already a 64-bit hash, and the
    //     scaladoc's ~n²/2⁶⁴ adjudication covers the composed key.
    // (b) the capped postings (doc_id, k, df) checkpoint to scratch:
    //     they feed THREE consumers (sizes, both pair-join sides), and
    //     without the artifact each consumer re-ran the df agg + join-
    //     back lineage — the train-once index discipline the g artifact
    //     above already follows, one level deeper.
    val gk = Scratch.table(s, Scratch.path("ngram_gk", d)) {
      val gq = g.select(col("doc_id"),
        xxhash64(col("source"), col("lang"), col("gram_h")).as("k"))
      val dfTab = gq.groupBy("k").agg(count(lit(1)).as("df"))
        .where(col("df") <= dfCap)
      gq.join(dfTab, Seq("k"))
    }
    val sizes = gk.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // Singleton grams (df = 1) count toward union sizes but can never
    // intersect — exclude them from the pair join (most of the gram
    // volume in high-entropy text).
    val gp = gk.where(col("df") >= 2)
    val a = gp.select(col("doc_id").as("a_id"), col("k"))
    val b = gp.select(col("doc_id").as("b_id"), col("k"))
    val inter = a.join(b, Seq("k"))
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jacc"))
      .orderBy(col("jacc").desc, col("a_id"), col("b_id"))
      .limit(10)
  }

  /** LSH QUALITY EVALUATION — "measure, don't guess" applied to the
    * engine's own approximation: every TRUE near-dup pair (exact
    * shingle-set Jaccard ≥ 1/2) is listed with whether the MinHash/LSH
    * band join would have surfaced it. The truth side is EXACT yet
    * subquadratic: a qualifying pair must share ≥ 1 shingle, so the
    * shared-shingle inverted index loses nothing, and the Jaccard
    * test is pure integers (I/(na+nb−I) ≥ 1/2 ⟺ 3I ≥ na+nb — no
    * division). Shingles ride as 8-byte xxhash64 keys (the dedup_ngram
    * discipline; the python pin hashes identically, so collisions —
    * ~n²/2⁶⁴ — would be caught, not hidden).
    *
    * Round-8 scale fix: the sf1 slope run measured the naive
    * shared-shingle join at α=1.26 (Σ shingle-df² — a df cap would
    * bound it but breaks EXACTNESS, which the truth side cannot give
    * up). The candidate join now uses the classic df-ascending PREFIX
    * FILTER (Bayardo/AllPairs), which is exact: J(A,B) ≥ t ⟹
    * I ≥ ⌈t·na⌉ (I ≥ t(na+nb−I) and I ≤ nb give I ≥ t·na), so if no
    * shared shingle sat in A's first na−⌈t·na⌉+1 shingles under a
    * global canonical order, all I shared shingles would fit in the
    * remaining ⌈t·na⌉−1 — contradiction. Joining prefix×prefix
    * (canonical order = df ASC, hash ASC) therefore loses no
    * qualifying pair, and boilerplate mega-shingles sort LAST — they
    * never enter the join. Exact intersections are then computed per
    * CANDIDATE by the native [[graft.expr.IntersectCountSorted64]]
    * merge walk over value-sorted copies of the two full (distinct)
    * shingle arrays — work ∝ candidates × doc size, not Σdf², and
    * zero per-pair allocation (array_intersect's per-pair hash set +
    * output array measured 53% task GC on a build trial). 27.5 s →
    * ~2 s
    * at sf1; LlmSpec pins prefix-filter ≡ naive-join row identity at
    * both gate SFs. Oracle: pinned VALUES from the independent
    * pure-python XXH64 stack (tools/recall_oracle.py — same shingling,
    * same band hashing, zero JVM involvement). */
  private[graft] def recallTruthPairs(
      s: SparkSession, d: String, prefixFiltered: Boolean): DataFrame = {
    val sh = fanOut(t(s, d, "documents"))
      .select(col("doc_id"), explode(shingles(col("text"))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
    if (!prefixFiltered) {
      sh.select(col("doc_id").as("a_id"), col("gh"))
        .join(sh.select(col("doc_id").as("b_id"), col("gh")), Seq("gh"))
        .where(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
    } else {
      val wdf = Window.partitionBy("gh")
      val ranked = sh.withColumn("df", count(lit(1)).over(wdf))
      // Two orders of the same shingle set, both built ONCE per doc:
      // `ghs` in the canonical (df ASC, gh ASC) order the prefix
      // filter is proved against, and `ghss` value-sorted for the
      // per-PAIR intersection below — the merge-walk kernel needs asc
      // order, and sorting here (5k docs) instead of hashing per pair
      // (10k+ candidates) is what keeps the pair leg allocation-free.
      val docArr = ranked.groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("gh"))))
          .as("srt"))
        .select(col("doc_id"),
          transform(col("srt"), x => x.getField("gh")).as("ghs"),
          size(col("srt")).as("n"))
        .withColumn("ghss", array_sort(col("ghs")))
      // prefix length for t = 1/2: n − ⌈n/2⌉ + 1 = ⌊n/2⌋ + 1
      val pref = docArr.select(col("doc_id"),
        explode(slice(col("ghs"), lit(1),
          (col("n") - ceil(col("n") * lit(0.5)) + lit(1)).cast("int")))
          .as("gh"))
      val cand = pref.select(col("doc_id").as("a_id"), col("gh"))
        .join(pref.select(col("doc_id").as("b_id"), col("gh")), Seq("gh"))
        .where(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
      // Exact overlap per candidate via the native zero-allocation
      // merge walk over the value-sorted copies ([[graft.expr
      // .IntersectCountSorted64]]): same count as
      // size(array_intersect(ghs_a, ghs_b)) — IntersectCountSpec pins
      // the equivalence — without ArrayIntersect's per-pair hash set +
      // materialized intersection array (53% task GC on a build trial
      // under a fat suite heap).
      cand
        .join(docArr.select(col("doc_id").as("a_id"),
          col("ghss").as("ghs_a")), Seq("a_id"))
        .join(docArr.select(col("doc_id").as("b_id"),
          col("ghss").as("ghs_b")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          call_function("isect_count_s64", col("ghs_a"), col("ghs_b"))
            .as("n_shared"))
    }
  }

  private def dedupMinhashRecall: Q = (s, d) =>
    dedupMinhashRecallPlan(s, d, prefixFiltered = true)

  private[graft] def dedupMinhashRecallPlan(
      s: SparkSession, d: String, prefixFiltered: Boolean): DataFrame = {
    val sigT = minhashSigTable(s, d)
    val inter = recallTruthPairs(s, d, prefixFiltered)
    val sz = sigT.select(col("doc_id"), col("n_shingles"))
    val bands = bandRows(sigT)
    val cand = bands
      .select(col("doc_id").as("a_id"), col("band_idx"), col("band_hash"))
      .join(bands.select(col("doc_id").as("b_id"), col("band_idx"),
        col("band_hash")), Seq("band_idx", "band_hash"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
      .withColumn("in_lsh", lit(true))
    inter
      .join(sz.select(col("doc_id").as("a_id"),
        col("n_shingles").as("na")), Seq("a_id"))
      .join(sz.select(col("doc_id").as("b_id"),
        col("n_shingles").as("nb")), Seq("b_id"))
      .where(lit(3) * col("n_shared") >= col("na") + col("nb"))
      .join(cand, Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"), col("n_shared"), col("na"),
        col("nb"), coalesce(col("in_lsh"), lit(false)).as("in_lsh"))
      .orderBy("a_id", "b_id")
  }

  /** 4 deterministic pseudo-random hyperplanes (seeded LCG — no
    * Math.random) shared by sim_ann_lsh and dedup_embed. The SAME
    * constants are inlined as double literals into the DuckDB oracles
    * (Double.toString round-trips exactly), so bucket assignment — an
    * IEEE dot-product sign — agrees bitwise across engines. */
  private[ops] val lshPlanes: Seq[Seq[Double]] = {
    var state = 0x9E3779B97F4A7C15L
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 11).toDouble / (1L << 53).toDouble) - 0.5
    }
    Seq.fill(4)(Seq.fill(64)(next()))
  }

  private def dotLit(emb: Column, p: Seq[Double]): Column =
    call_function("dot64", emb, typedLit(p))

  /** Sign-pattern bucket in [0,16) from the 4 hyperplanes. */
  private def lshBucket(emb: Column): Column =
    lshPlanes.zipWithIndex.map { case (p, j) =>
      when(dotLit(emb, p) > 0, lit(1 << j)).otherwise(0)
    }.reduce(_ + _)

  /** DuckDB twin of dotLit: left-fold dot product against plane literals. */
  private def duckDotLit(emb: String, p: Seq[Double]): String =
    s"""list_reduce(list_transform(
          list_zip($emb, [${p.map(_.toString).mkString(", ")}]),
          s -> s[1] * s[2]), (a, b) -> a + b)"""

  /** DuckDB twin of lshBucket. */
  private def duckLshBucket(emb: String): String =
    lshPlanes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN ${duckDotLit(emb, p)} > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Embedding-cosine near-dup: top-20 most similar pairs per label,
    * candidates restricted to (label, LSH bucket) — the 100 TB-safe pair
    * space. Round 1 joined all pairs within a label: O(n²/L)·d, dead at
    * 100×; bucketing by hyperplane sign pattern divides each label block
    * by ~16 while keeping near-identical vectors together (they share
    * every dot-product sign). The oracle applies the IDENTICAL bucket
    * function (same plane literals, same fold), so the result is
    * exact-hash-verified, not merely plausible. */
  private def dedupEmbed: Q = (s, d) => {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("bucket", lshBucket(col("emb")))
      .withColumn("nrm", norm(col("emb")))
    val a = e.select(col("vec_id").as("a_id"), col("label"), col("bucket"),
      col("emb").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("label"), col("bucket"),
      col("emb").as("eb"), col("nrm").as("nb"))
    val w = Window.partitionBy("label")
      .orderBy(col("cos").desc, col("a_id"), col("b_id"))
    a.join(b, Seq("label", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select(col("label"), col("a_id"), col("b_id"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .select(col("label"), col("a_id"), col("b_id"), col("cos"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= 20)
      .orderBy("label", "rn")
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster-blocked embedding near-dup DECISIONS — the embedding
    * analog of dedup_minhash's keep/dup output. Blocking = Voronoi
    * assignment to k=8 deterministic data seeds (the vectors with
    * vec_id < 8) under the ml_kmeans integer micro-unit metric: the
    * paper's k-means stage reduced to its essential role of bounding
    * the pair space by cluster instead of corpus² (cross-cluster pairs
    * are forgone BY DESIGN — the SemDeDup approximation; the oracle
    * applies the IDENTICAL blocking, so the gate verifies the
    * decisions, not mere plausibility). Within a cluster, a vector is
    * a semantic DUP of its best lower-id neighbor at cosine ≥ τ=0.45
    * (the synthetic embeddings carry no planted near-identical pairs,
    * so τ sits at the top of the observed similarity range to keep the
    * decision path exercised); a vector with no such neighbor is the
    * group keeper. Scale shape: assignment is a per-row
    * [[Pipeline.nearest]] argmin over the k seed vectors as literals (no
    * join, no shuffle of embeddings for it); the pair join is EQUI on
    * the cluster id with per-cluster candidate sets; decisions join
    * back on vec_id. */
  private def dedupSemantic: Q = (s, d) => {
    val kSeeds = 8
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("qv", shiftedGrid(col("emb")))
    val seeds = entryLit(e.where(col("vec_id") < kSeeds)
      .select(col("vec_id"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq)
    val clustered = e
      .select(col("vec_id"), col("emb"), nearest(col("qv"), seeds).as("cid"))
      .withColumn("nrm", norm(col("emb")))
    val a = clustered.select(col("vec_id").as("a_id"), col("cid"),
      col("emb").as("ea"), col("nrm").as("na"))
    val b = clustered.select(col("vec_id").as("b_id"), col("cid"),
      col("emb").as("eb"), col("nrm").as("nb"))
    val pw = Window.partitionBy("b_id").orderBy(col("cos").desc, col("a_id"))
    val best = a.join(b, "cid")
      .where(col("a_id") < col("b_id"))
      .select(col("b_id"), col("a_id"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= 0.45d)
      .withColumn("rn", row_number().over(pw))
      .where(col("rn") === 1)
      .select(col("b_id").as("vec_id"), col("a_id").as("dup_of_id"),
        col("cos"))
    clustered.join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").as("cluster"),
        when(col("dup_of_id").isNull, "keep").otherwise("dup").as("status"),
        coalesce(col("dup_of_id"), lit(-1L)).as("dup_of"),
        round(coalesce(col("cos"), lit(0.0d)), 6).as("cos"))
      .orderBy("vec_id")
  }

  /** LSH-bucketed approximate nearest neighbours: 4 deterministic
    * pseudo-random hyperplanes → 16 buckets; queries probe only their
    * own bucket (the IVF-style scale path; sim_cosine_topk is the exact
    * baseline). Planes shared with dedup_embed ([[lshPlanes]]). */
  private def simAnnLsh: Q = (s, d) => {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("bucket", lshBucket(col("emb")))
      .withColumn("nrm", norm(col("emb")))
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"), col("bucket"),
        col("nrm").as("qnrm"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(q), Seq("bucket"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (dot(col("qemb"), col("emb")) / (col("qnrm") * col("nrm"))).as("cos"))
      .select(col("qid"), col("vec_id"), col("cos"), row_number().over(w).as("rn"))
      .where(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("vec_id"), round(col("cos"), 6).as("cosine"))
      .orderBy("qid", "rn")
  }

  /** Document fingerprint: polynomial rolling hash over the character
    * stream, mod 1e9+7 (fits exact integer math in both engines). */
  private def textFingerprint: Q = (s, d) =>
    fanOut(t(s, d, "documents"))
      .select(col("doc_id"),
        aggregate(
          transform(split(col("text"), ""), c => ascii(c).cast("long")),
          lit(0L), (acc, c) => (acc * 31 + c) % 1000000007L).as("fp"))
      .orderBy("doc_id")

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken — the MOSS
    * algorithm): rolling hash of every k-gram (k=8 chars), then the MIN
    * of each w-window (w=4) becomes a fingerprint — guaranteeing any
    * shared substring of length ≥ k+w-1 produces at least one shared
    * fingerprint, with only ~1/w of positions retained. The operator
    * reports, per document, its fingerprint count and how many are
    * shared with ≥1 other document (substring-level near-dup signal —
    * between text_fingerprint's whole-doc hash and dedup_minhash's
    * set-similarity). Exact integer math start to finish, so the
    * DuckDB twin hash-matches. Scale shape: per-row HOFs (no
    * cross-row work) → explode of ~len/w 8-byte fingerprints →
    * df-aggregate + join back on the fingerprint; text never shuffles. */
  private def textWinnow: Q = (s, d) => {
    val fps = call_function("winnow_fps", col("text"))
    val docFps = fanOut(t(s, d, "documents"))
      .select(col("doc_id"), explode(fps).as("fp"))
    val shared = docFps.groupBy("fp")
      .agg(count_distinct(col("doc_id")).as("df"))
      .where(col("df") >= 2)
      .select(col("fp"), lit(1).as("is_shared"))
    docFps.join(shared, Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("is_shared").isNotNull, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("share_frac",
        col("n_shared").cast("double") / col("n_fps"))
      .orderBy("doc_id")
  }

  /** Linear quality-model scoring — the "trained classifier" stage of a
    * corpus pipeline (text_quality computes features; this APPLIES a
    * weighted model and makes the keep/drop decision). Determinism
    * discipline: the numerator is exact 64-bit integer arithmetic over
    * counts, and the score is ONE IEEE division of identical operands
    * in both engines — no rounding, no float accumulation, so the raw
    * double hash-matches. At 100 TB this is a pure map stage fused into
    * the scan (no shuffle; the filter would push into the next stage). */
  private def textScore: Q = (s, d) => {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("long")
    val stops = size(filter(toks, x =>
      x.isin("the", "a", "of", "and", "to"))).cast("long")
    val punct = regexp_count(col("text"), lit("[^A-Za-z0-9 ]")).cast("long")
    val nChars = length(col("text")).cast("long")
    val numer = lit(600L) * stops - lit(200L) * punct +
      lit(3L) * least(nChars, lit(500L))
    val score = numer.cast("double") / nTok.cast("double")
    t(s, d, "documents")
      .select(col("doc_id"), nTok.as("n_tokens"), stops.as("n_stopwords"),
        punct.as("n_punct"), score.as("score"),
        (score >= 50.0d).as("keep"))
      .orderBy("doc_id")
  }

  /** FLESCH READING-EASE readability per document — the classic
    * corpus-quality feature the gopher/quality/lm_score trio doesn't
    * carry (they measure composition and fluency; this measures
    * structural complexity): 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), with vowel-run counts as the standard
    * syllable proxy and a ≥1 sentence guard for unpunctuated text.
    * Counts are exact integers (regexp_count), the score a fixed
    * 2-division IEEE chain mirrored token-for-token by the oracle —
    * raw doubles exact-hash. Pure map stage, fused into the scan. */
  private def textReadability: Q = (s, d) => {
    val words = size(split(col("text"), " ", -1)).cast("long")
    val sents = greatest(
      regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L))
    val syls = regexp_count(col("text"), lit("[aeiouy]+")).cast("long")
    def D(c: Column) = c.cast("double")
    val flesch = lit(206.835d) - lit(1.015d) * (D(words) / D(sents)) -
      lit(84.6d) * (D(syls) / D(words))
    t(s, d, "documents")
      .select(col("doc_id"), words.as("n_words"), sents.as("n_sentences"),
        syls.as("n_syllables"), flesch.as("flesch"),
        when(flesch >= 60.0d, "easy")
          .when(flesch >= 30.0d, "medium").otherwise("hard").as("band"))
      .orderBy("doc_id")
  }

  /** Embedding L2-normalization — the preprocessing pass before any
    * cosine-based retrieval (unit vectors turn cosine into plain dot
    * product, halving the flops of every later pair computation). Pure
    * per-row map, no shuffle; norm is the shared left-fold, and each
    * output component is a single IEEE division — bitwise reproducible. */
  private def embedNormalize: Q = (s, d) =>
    t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", norm(col("emb")))
      .select(col("vec_id"), col("label"), col("nrm"),
        (element_at(col("emb"), 1) / col("nrm")).as("u0"),
        (element_at(col("emb"), 2) / col("nrm")).as("u1"))
      .orderBy("vec_id")

  /** INT8 SCALAR QUANTIZATION of the embedding store — the vector-
    * database compression pass (4× over float32) a 100 TB corpus's ANN
    * index lives on: per-vector symmetric scale = max|x|/127, integer
    * codes floor(x/scale), plus the decode-error audit max|x −
    * code·scale| a quantization rollout needs. Pure per-row map — zero
    * shuffle, fused into the scan. Exactness: every emitted double is
    * an identical single-op IEEE sequence in both engines (one
    * division for the scale, one division + floor per code — floor,
    * never a bare CAST: double→int CAST truncates in Spark but rounds
    * half-even in DuckDB), so the gate exact-hashes. A degenerate
    * all-zero vector gives scale = 0 and floor(0/0) = NaN codes whose
    * handling DIVERGES between engines — the scale is
    * nullif-guarded on both sides, so zero vectors degrade identically
    * to NULL scale/codes. */
  private def embedQuantize: Q = (s, d) => {
    val s0 = array_max(transform(col("x"), v => abs(v))) / lit(127.0d)
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("x"))
      .withColumn("scale", when(s0 =!= 0.0d, s0))
    e.withColumn("q",
        transform(col("x"), v => floor(v / col("scale")).cast("long")))
      .select(col("vec_id"), col("label"), col("scale"),
        element_at(col("q"), 1).as("q0"),
        element_at(col("q"), 2).as("q1"),
        aggregate(col("q"), lit(0L), (a, v) => a + v).as("sum_q"),
        array_max(zip_with(col("x"), col("q"),
          (xv, qv) => abs(xv - qv.cast("double") * col("scale"))))
          .as("max_err"))
      .orderBy("vec_id")
  }

  /** MEAN-RECIPROCAL-RANK relevance audit — rank_bm25 / rank_rrf
    * produce rankings; this SCORES one, the retrieval-quality number a
    * curation pipeline tracks per corpus slice: docs ranked within
    * each language by (n_chars DESC, doc_id), the 'dup'-marker docs as
    * relevance labels, and the metric is 1/rank of the first relevant
    * hit. One group-partitioned STREAMING rank window + two bounded
    * aggs; rr is ONE IEEE division; a language with no relevant doc
    * degrades to NULLs via the left join instead of vanishing. */
  private def rankMrr: Q = (s, d) => {
    val w = Window.partitionBy("lang")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val ranked = fanOut(t(s, d, "documents"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("text").contains("dup").as("rel"))
      .withColumn("rnk", row_number().over(w).cast("long"))
    val first = ranked.where(col("rel"))
      .groupBy("lang").agg(min(col("rnk")).as("first_rank"))
    ranked.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rel"), 1L).otherwise(0L)).as("n_rel"))
      .join(first, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("n_rel"), col("first_rank"),
        (lit(1.0d) / col("first_rank").cast("double")).as("rr"))
      .orderBy("lang")
  }

  /** NDCG@10 — the graded cousin of [[rankMrr]]'s first-hit metric:
    * discounted cumulative gain over the top 10 ranks, normalized by
    * the ideal ordering. Same ranking and relevance labels as
    * rank_mrr (docs by (n_chars DESC, doc_id) within language,
    * 'dup'-marker docs relevant). Discounts use the NATURAL-log DCG
    * variant (rank ordering is identical to log2 — it's one constant
    * factor — and ln is the engine's one admitted libm function). The
    * float sums are SEQUENTIAL folds in rank order on both sides
    * (Spark `aggregate` over the rank-sorted array ↔ DuckDB
    * list_reduce over the rank-ordered list — the agg_chisq
    * discipline), bounded at 10 terms; outputs are rounded to 6
    * decimals to absorb ln's last-ulp wobble; a language with no
    * relevant docs degrades to NULL ndcg via the nullif guard. */
  private def rankNdcg: Q = (s, d) => {
    val w = Window.partitionBy("lang")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val ranked = fanOut(t(s, d, "documents"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("text").contains("dup").as("rel"))
      .withColumn("rnk", row_number().over(w).cast("long"))
    val gains = ranked.where(col("rnk") <= 10)
      .groupBy("lang")
      .agg(aggregate(
        transform(
          array_sort(collect_list(struct(col("rnk"), col("rel")))),
          x => when(x.getField("rel"),
            lit(1.0d) /
              log(x.getField("rnk").cast("double") + lit(1.0d)))
            .otherwise(lit(0.0d))),
        lit(0.0d), (a, v) => a + v).as("dcg"))
    val rels = ranked.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rel"), 1L).otherwise(0L)).as("n_rel"))
    rels.join(gains, "lang")
      .withColumn("k", least(col("n_rel"), lit(10L)))
      .withColumn("idcg",
        when(col("k") > 0, aggregate(
          transform(sequence(lit(1L), col("k")),
            r => lit(1.0d) / log(r.cast("double") + lit(1.0d))),
          lit(0.0d), (a, v) => a + v)).otherwise(lit(0.0d)))
      .select(col("lang"), col("n_docs"), col("n_rel"),
        round(col("dcg"), 6).as("dcg"),
        round(col("idcg"), 6).as("idcg"),
        round(col("dcg") / nullif(col("idcg"), lit(0.0d)), 6).as("ndcg"))
      .orderBy("lang")
  }

  /** ZIPF-slope fit per language — does the corpus's token frequency
    * curve follow the ~rank⁻¹ law natural text obeys? (A scraped
    * corpus that DOESN'T is machine-generated or boilerplate — this
    * is a corpus-level quality screen next to text_gopher's per-doc
    * rules.) Frequencies come off one hash agg; only the TOP-32 ranks
    * per language enter the fit (the head is where Zipf lives and the
    * bound makes pair work a ≤496-row constant per language — the
    * ts_theilsen discipline in log-log space); the slope estimate is
    * the MEDIAN of pairwise log-log slopes, SELECTED (row_number at
    * rank ⌈m/2⌉), never averaged. Each slope is a fixed chain of four
    * ln() calls and one division, rounded to 6 decimals BEFORE the
    * selection order so the median choice itself is ulp-robust. */
  private def textZipf: Q = (s, d) => {
    val tok = fanOut(t(s, d, "documents"))
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
    val freq = tok.groupBy("lang", "word").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("lang").orderBy(col("c").desc, col("word"))
    val top = freq.withColumn("r", row_number().over(w).cast("long"))
      .where(col("r") <= 32)
      .select(col("lang"), col("r"), col("c"))
    val a = top.select(col("lang"), col("r").as("r1"), col("c").as("c1"))
    val b = top.select(col("lang"), col("r").as("r2"), col("c").as("c2"))
    val slopes = a.join(b, Seq("lang")).where(col("r1") < col("r2"))
      .select(col("lang"), col("r1"), col("r2"),
        round((log(col("c2").cast("double")) -
            log(col("c1").cast("double"))) /
          (log(col("r2").cast("double")) -
            log(col("r1").cast("double"))), 6).as("slope"))
    val m = slopes.groupBy("lang").agg(count(lit(1)).as("n_pairs"))
    val ws = Window.partitionBy("lang").orderBy("slope", "r1", "r2")
    slopes.withColumn("rn", row_number().over(ws).cast("long"))
      .join(broadcast(m), "lang")
      .where(col("rn") === expr("(n_pairs + 1) DIV 2"))
      .select(col("lang"), col("n_pairs"), col("slope").as("zipf_slope"))
      .orderBy("lang")
  }

  /** Similarity RANGE search (all pairs with cosine ≥ τ) — the other
    * fundamental ANN query shape next to top-k: near-duplicate mining
    * wants "everything this similar", not "the 10 nearest". Candidates
    * are restricted to a shared LSH bucket (the 100 TB pair space —
    * full all-pairs is O(n²)·d); recall is the standard LSH trade-off
    * and the oracle applies the IDENTICAL bucket function, so the
    * result is exact-hash-verified. */
  private def simRangeSearch: Q = (s, d) => {
    val tau = 0.45d
    val e = t(s, d, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("bucket", lshBucket(col("emb")))
      .withColumn("nrm", norm(col("emb")))
    val a = e.select(col("vec_id").as("a_id"), col("bucket"),
      col("emb").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("bucket"),
      col("emb").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= tau)
      .orderBy("a_id", "b_id")
  }

  /** Repetition-based quality rules (the Gopher/RefinedWeb family):
    * duplicate-word fraction and top-bigram fraction per document,
    * with a keep/flag decision at the published-style thresholds.
    * Implemented as per-row higher-order functions — ZERO shuffle: for
    * bounded document lengths (corpus docs are a few hundred words)
    * the O(distinct·n) in-row count is strictly cheaper at 100 TB than
    * the explode + groupBy(doc, bigram) + top-1 alternative, which
    * pays two full-corpus shuffles to compute the same per-doc scalar.
    * All counts are integers; each fraction is ONE IEEE division. */
  private def textRepetition: Q = (s, d) => {
    val st = call_function("repetition_stats", col("text"))
    val n = col("st.n_words")
    val nDistinct = col("st.n_distinct_words")
    val topBigram = col("st.top_bigram_n")
    t(s, d, "documents")
      .select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        n.as("n_words"),
        nDistinct.as("n_distinct_words"),
        ((n - nDistinct).cast("double") / n.cast("double"))
          .as("dup_word_frac"),
        topBigram.as("top_bigram_n"),
        when(n > 1, topBigram.cast("double") / (n - 1).cast("double"))
          .otherwise(0.0d).as("top_bigram_frac"))
      .withColumn("flagged",
        col("dup_word_frac") > 0.3d || col("top_bigram_frac") > 0.18d)
      .orderBy("doc_id")
  }

  /** Edit-distance near-dup pairs (entity resolution on short strings:
    * names, titles, product codes) — SymSpell-style deletion-neighborhood
    * blocking. Every name emits itself plus its |name| single-character
    * deletions; two strings at Levenshtein distance ≤ 1 ALWAYS share a
    * variant (substitution → both delete that position; insert/delete →
    * the longer's deletion equals the shorter), so the equi-join on the
    * 8-byte variant hash is an EXACT candidate generator, and the final
    * `levenshtein ≤ 1` filter removes hash-coincidence pairs. The
    * brute-force O(n²) oracle proves the blocked path loses nothing.
    *
    * Scale shape: O(L) 8-byte keys per row cross the shuffle (never
    * quadratic in corpus size); candidate ids then re-join the name
    * table to verify. Contrast with an all-pairs cross join, which is
    * dead at 100×. The r9 verdict measured the residual hazard: join
    * output is Σ bucket² over variant-hash buckets, and with NO bucket
    * bound a hot short string (an empty/placeholder name) is a
    * mega-bucket — sf10 measured candidate mass α = 1.16. The fix is
    * the [[containmentDfCap]] / dedupNgram dfCap discipline applied to
    * the variant buckets: a bounded-memory hash-agg df pass over `vh`
    * (one counter per distinct variant — spillable, map-side-combined;
    * not a windowed form, because WindowExec buffers
    * each vh group whole BEFORE the cap filters it, so the mega-bucket
    * the cap exists for would still OOM the window pass), drop df=1
    * buckets (provably lossless, a singleton
    * pairs with nothing) and df > [[fuzzyBucketCap]] buckets. Capped,
    * candidate mass ≤ cap · Σ df = cap · O(n·L) — LINEAR in corpus
    * size by construction, no skewed-key full shuffle possible. The
    * cap is a measured NO-OP at both gate SFs (max variant df 29 at
    * sf0.01, 38 at sf0.1 — pinned capped≡uncapped in LlmSpec) and the
    * DuckDB oracle applies the IDENTICAL cap over the variant strings,
    * so semantics agree at ANY SF. Recall contract when the cap binds
    * (digit-dense keyspaces exceed it around sf10, where max df ≈ 56):
    * a pair is reported iff SOME shared deletion variant lives in a
    * sub-cap bucket — dropped buckets are exactly the variants shared
    * by > cap strings, i.e. the least discriminative blocking keys;
    * a Levenshtein-≤1 pair is lost only if EVERY witness variant is
    * that popular. (Cap over vh vs the oracle's cap over the variant
    * string differ only if xxhash64 collides two distinct variants
    * into one bucket that then crosses the cap — ~n²/2⁶⁴, and the
    * exact-hash gate would catch it.) */
  private[graft] val fuzzyBucketCap = 48L

  private[graft] def dedupFuzzyPlan(
      s: SparkSession, d: String, cap: Long): DataFrame = {
    val c = t(s, d, "customer").select(col("c_custkey"), col("c_name"))
    val name = col("c_name")
    // sequence(1, 0) DESCENDS — guard the (theoretical) empty name.
    val deletions = when(length(name) > 0,
      transform(sequence(lit(1), length(name)),
        i => concat(name.substr(lit(1), i - lit(1)),
          name.substr(i + lit(1), length(name)))))
      .otherwise(array().cast("array<string>"))
    // array_union dedupes repeated deletions (e.g. "aab" → "ab" twice),
    // so bucket df counts DISTINCT custkeys — mirrored by the oracle's
    // SELECT DISTINCT (c_custkey, v).
    // Train-once artifact: the variant postings feed the df aggregate
    // AND the join-back (plus both self-join sides through `variants`)
    // — checkpoint so the deletion-neighborhood explode runs ONCE
    // (without this the bounded-df split recomputes it per consumer:
    // sf10 measured 25 → 78 s on pure duplicate work).
    val raw = Scratch.table(s, Scratch.path("fuzzy_vh", d)) {
      c.select(col("c_custkey"),
        explode(array_union(array(name), deletions)).as("v"))
        .select(col("c_custkey"), xxhash64(col("v")).as("vh"))
    }
    // Bounded-memory df: hash-agg per vh, band-filter, join back (the
    // dedupNgram/dedupContainment discipline — no per-bucket window
    // buffer; a mega-bucket dies at the agg, not in executor memory).
    val dfTab = raw.groupBy("vh").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= cap)
    val variants = raw.join(dfTab.select("vh"), Seq("vh"))
      .select("c_custkey", "vh")
    val a = variants.as("a")
    val b = variants.as("b")
    val cand = a.join(b, col("a.vh") === col("b.vh") &&
        col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("a_id"), col("b.c_custkey").as("b_id"))
      .distinct()
    val an = c.select(col("c_custkey").as("a_id"), col("c_name").as("a_name"))
    val bn = c.select(col("c_custkey").as("b_id"), col("c_name").as("b_name"))
    cand.join(an, "a_id").join(bn, "b_id")
      .withColumn("dist",
        levenshtein(col("a_name"), col("b_name")).cast("long"))
      .where(col("dist") <= 1)
      .select("a_id", "b_id", "dist")
      .orderBy("a_id", "b_id")
  }

  private def dedupFuzzy: Q = (s, d) => dedupFuzzyPlan(s, d, fuzzyBucketCap)

  /** Lexical-diversity profile per document — TYPE-TOKEN RATIO plus
    * the log-free concentration pair: the Simpson index Σf²/n² (the
    * probability two random tokens coincide — collision entropy's
    * exact-rational core) and effective vocabulary n²/Σf² (the
    * "perplexity-like" diversity number a corpus-quality dashboard
    * wants). Deliberately NO Shannon entropy: ln() is not IEEE
    * correctly-rounded, so its bits differ across libm builds and
    * could never exact-hash (the tok_unigram digits() lesson); the
    * Simpson pair carries the same diversity signal as exact integer
    * numerators with a fixed 2-3 division sequence. Scale shape: the
    * registered plan is the native [[graft.expr.TtrStats]] kernel —
    * ONE tokenize+hash sweep per row fused into whole-stage codegen,
    * ZERO shuffle (each doc's triple is a pure function of its own
    * text; the exploded two-aggregate formulation ships every token
    * through a shuffle that carries nothing the result needs — kept
    * as [[textTtrExploded]] for the LlmSpec bit-identity pin, the
    * RepetitionStats discipline). */
  private def textTtr: Q = (s, d) => {
    def D(c: String) = col(c).cast("double")
    val st = call_function("ttr_stats", col("text"))
    // NULL-text docs are dropped, matching the exploded twin and the
    // oracle (string_split→unnest emits nothing for NULL): without the
    // filter the native kernel would keep the row with NULL stats
    // No-op on the fixtures (text is non-null there).
    fanOut(t(s, d, "documents"))
      .where(col("text").isNotNull)
      .select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st.n_words").as("n_words"), col("st.n_types").as("n_types"),
        col("st.s2").as("s2"))
      .select(col("doc_id"), col("n_words"), col("n_types"),
        (D("n_types") / D("n_words")).as("ttr"),
        (D("s2") / D("n_words") / D("n_words")).as("simpson"),
        (D("n_words") * D("n_words") / D("s2")).as("eff_vocab"))
      .orderBy("doc_id")
  }

  /** The declarative twin of [[textTtr]] — explode + two aggregates.
    * NOT registered: the token shuffle is pure waste at scale; kept as
    * the spec's independent implementation for bit-identity. */
  private[graft] def textTtrExploded(
      s: SparkSession, d: String): DataFrame = {
    def D(c: String) = col(c).cast("double")
    val tf = fanOut(t(s, d, "documents"))
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("f"))
    tf.groupBy("doc_id")
      .agg(sum(col("f")).as("n_words"), count(lit(1)).as("n_types"),
        sum(col("f") * col("f")).as("s2"))
      .select(col("doc_id"), col("n_words"), col("n_types"),
        (D("n_types") / D("n_words")).as("ttr"),
        (D("s2") / D("n_words") / D("n_words")).as("simpson"),
        (D("n_words") * D("n_words") / D("s2")).as("eff_vocab"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "rank_bm25" -> rankBm25,
    "rank_rrf" -> rankRrf,
    "sim_mmr" -> simMmr,
    "dedup_containment" -> dedupContainment,
    "dedup_fuzzy" -> dedupFuzzy,
    "text_repetition" -> textRepetition,
    "text_score" -> textScore,
    "embed_normalize" -> embedNormalize,
    "embed_quantize" -> embedQuantize,
    "rank_mrr" -> rankMrr,
    "rank_ndcg" -> rankNdcg,
    "text_zipf" -> textZipf,
    "text_readability" -> textReadability,
    "sim_range_search" -> simRangeSearch,
    "dedup_exact" -> dedupExact,
    "dedup_url" -> dedupUrl,
    "dedup_phash" -> dedupPhash,
    "dedup_minhash" -> dedupMinhash,
    "dedup_incremental" -> dedupIncremental,
    "dedup_minhash_agg" -> dedupMinhashAgg,
    "dedup_cluster" -> dedupCluster,
    "dedup_semantic" -> dedupSemantic,
    "text_normalize" -> textNormalize,
    "text_html_extract" -> textHtmlExtract,
    "text_lm_score" -> textLmScore,
    "text_perplexity" -> textPerplexity,
    "dedup_minhash_recall" -> dedupMinhashRecall,
    "text_compress_ratio" -> textCompressRatio,
    "text_pii_scrub" -> textPiiScrub,
    "text_seg_dedup" -> textSegDedup,
    "text_boilerplate" -> textBoilerplate,
    "dedup_substring" -> dedupSubstring,
    "dedup_substring_remove" -> dedupSubstringRemove,
    "decontaminate" -> decontaminate,
    "dedup_bloom" -> dedupBloom,
    "text_gopher" -> textGopher,
    "embed_pca" -> embedPca,
    "dedup_simhash" -> dedupSimhash,
    "dedup_simhash_pairs" -> dedupSimhashPairs,
    "dedup_ngram" -> dedupNgram,
    "dedup_embed" -> dedupEmbed,
    "sim_ann_lsh" -> simAnnLsh,
    "text_fingerprint" -> textFingerprint,
    "text_winnow" -> textWinnow,
    "pipeline_clean" -> pipelineClean,
    "sim_cosine_topk" -> simCosineTopk,
    "text_stats" -> textStats,
    "text_tokens" -> textTokens,
    "text_quality" -> textQuality,
    "text_lang_id" -> textLangId,
    "multimodal_join" -> multimodalJoin,
    "text_ttr" -> textTtr,
  )

  /** DuckDB cosine between <l>.emb and <r>.emb — left-fold order matches
    * the Spark `aggregate` fold bitwise. */
  private[ops] def duckCosOf(l: String, r: String): String =
    s"""list_reduce(list_transform(list_zip($l.emb, $r.emb),
         s -> s[1] * s[2]), (a, b) -> a + b)
       / (sqrt(list_reduce(list_transform($l.emb, x -> x * x), (a, b) -> a + b))
        * sqrt(list_reduce(list_transform($r.emb, x -> x * x), (a, b) -> a + b)))"""

  private val duckCos = duckCosOf("q", "e")

  /** BM25 oracle CTE chain + final top-20 select — shared verbatim
    * between the rank_bm25 oracle and rank_rrf's lexical leg so the two
    * gates can never drift apart. */
  private val bm25Cte: String =
    """tk AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
           dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM tk),
           st AS (SELECT count(*)::BIGINT AS n_docs,
                         sum(dl)::BIGINT AS tot_dl FROM dl),
           tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf
                  FROM (SELECT doc_id, unnest(t) AS tok FROM tk)
                  WHERE tok IN ('dup', 'spark', 'vector', 'merge')
                  GROUP BY doc_id, tok),
           df AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
           sc AS (SELECT tf.doc_id, tf.tok, dl.dl,
                         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                           * (tf * 2.2)
                           / (tf + 1.2 * (0.25 + 0.75 * dl
                                / (tot_dl::DOUBLE / n_docs))) AS contrib
                  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id)
                       CROSS JOIN st)"""

  private val bm25Select: String =
    """SELECT doc_id, max(dl)::BIGINT AS dl, count(*)::BIGINT AS n_terms,
                round(coalesce(max(CASE WHEN tok = 'dup' THEN contrib END), 0.0)
                  + coalesce(max(CASE WHEN tok = 'spark' THEN contrib END), 0.0)
                  + coalesce(max(CASE WHEN tok = 'vector' THEN contrib END), 0.0)
                  + coalesce(max(CASE WHEN tok = 'merge' THEN contrib END), 0.0),
                  6) AS score
         FROM sc GROUP BY doc_id
         ORDER BY score DESC, doc_id LIMIT 20"""

  val oracles: Map[String, String] = Map(
    // Same (doc, token) frequency table; exact integer n/types/Σf²;
    // the 2-3 division sequences mirrored cast-for-cast.
    "text_ttr" ->
      """WITH tf AS (
           SELECT doc_id, w, count(*) AS f
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents) t
           GROUP BY 1, 2),
         a AS (
           SELECT doc_id, sum(f)::BIGINT AS n_words,
                  count(*) AS n_types, sum(f*f)::BIGINT AS s2
           FROM tf GROUP BY 1)
         SELECT doc_id, n_words, n_types,
                CAST(n_types AS DOUBLE) / CAST(n_words AS DOUBLE) AS ttr,
                CAST(s2 AS DOUBLE) / CAST(n_words AS DOUBLE)
                  / CAST(n_words AS DOUBLE) AS simpson,
                CAST(n_words AS DOUBLE) * CAST(n_words AS DOUBLE)
                  / CAST(s2 AS DOUBLE) AS eff_vocab
         FROM a ORDER BY doc_id""",
    // The identical exact pipeline: same 3-gram shingle construction,
    // integer intersections, one IEEE division, integer-cross-mult flag —
    // and the SAME df cap (≤32) / singleton drop / shared-shingle floor
    // as the engine plan, so semantics agree at any SF, not just where
    // the cap is a no-op.
    "dedup_containment" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
           sh AS (SELECT DISTINCT doc_id,
                         array_to_string(t[j:j+2], ' ') AS sh
                  FROM tk,
                       unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(j)),
           sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh
                  FROM sh GROUP BY doc_id),
           df AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
           shc AS (SELECT s.doc_id, s.sh
                   FROM sh s JOIN df ON df.sh = s.sh
                   WHERE df.df BETWEEN 2 AND 32),
           p AS (SELECT a.doc_id AS da, b.doc_id AS db,
                        count(*)::BIGINT AS inter
                 FROM shc a JOIN shc b
                   ON a.sh = b.sh AND a.doc_id < b.doc_id
                 GROUP BY da, db HAVING count(*) >= 1),
           sym AS (SELECT da AS doc_id, db AS partner, inter FROM p
                   UNION ALL SELECT db, da, inter FROM p),
           sc AS (SELECT sym.doc_id, partner, inter,
                         least(s1.n_sh, s2.n_sh) AS min_sh,
                         inter::DOUBLE / least(s1.n_sh, s2.n_sh)
                           AS containment
                  FROM sym JOIN sz s1 ON s1.doc_id = sym.doc_id
                       JOIN sz s2 ON s2.doc_id = partner),
           best AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY containment DESC, partner) AS rn FROM sc)
         SELECT sz.doc_id, sz.n_sh, b.partner, b.inter, b.containment,
                coalesce(b.inter * 5 >= b.min_sh * 4, false) AS is_excerpt
         FROM sz LEFT JOIN best b ON b.doc_id = sz.doc_id AND b.rn = 1
         ORDER BY sz.doc_id""",
    // The identical fixed IEEE chain: left-assoc products/divisions,
    // fixed-column-order term sum, ln ulp absorbed by the 1e-6 grid.
    "rank_bm25" -> s"WITH $bm25Cte\n $bm25Select",
    // Same two legs verbatim (the bm25 CTE chain is SHARED text with
    // rank_bm25; the quality leg repeats text_quality's grid-rounded
    // score), same k=60 reciprocal terms — each one division of exact
    // integers — same doc_id tie-breaks at every rank assignment.
    "rank_rrf" ->
      s"""WITH $bm25Cte,
           bm AS ($bm25Select),
           ar AS (SELECT doc_id,
                    row_number() OVER (ORDER BY score DESC, doc_id)
                      AS bm25_rank FROM bm),
           qual AS (SELECT doc_id,
                      round(least(len(string_split(text, ' '))::DOUBLE, 200.0)
                          / 200.0 * 0.5
                        + len(list_filter(string_split(text, ' '),
                              x -> x IN ('the','a','of','and','to')))::DOUBLE
                          / len(string_split(text, ' '))::DOUBLE * 0.5, 4)
                        AS quality
                    FROM documents),
           qtop AS (SELECT doc_id, quality FROM qual
                    ORDER BY quality DESC, doc_id LIMIT 20),
           br AS (SELECT doc_id,
                    row_number() OVER (ORDER BY quality DESC, doc_id)
                      AS quality_rank FROM qtop),
           f AS (SELECT coalesce(ar.doc_id, br.doc_id) AS doc_id,
                        bm25_rank, quality_rank,
                        round(
                          coalesce(CAST(1 AS DOUBLE) / (60 + bm25_rank),
                                   CAST(0 AS DOUBLE))
                          + coalesce(CAST(1 AS DOUBLE) / (60 + quality_rank),
                                     CAST(0 AS DOUBLE)), 6) AS rrf_score
                 FROM ar FULL OUTER JOIN br ON ar.doc_id = br.doc_id)
         SELECT row_number() OVER (ORDER BY rrf_score DESC, doc_id)
                  AS fused_rank,
                doc_id, bm25_rank, quality_rank, rrf_score
         FROM f ORDER BY fused_rank""",
    // Identical integer micro-units, identical pool/greedy tie-breaks;
    // unrolled 8 rounds (MATERIALIZED — inlined CTE chains re-read
    // parquet exponentially).
    "sim_mmr" -> {
      val head =
        """WITH qv AS MATERIALIZED (
             SELECT vec_id, i, CAST(floor(e*1e6+0.5) AS BIGINT) AS qv
             FROM (SELECT vec_id, unnest(embedding) AS e,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings)),
           rel AS MATERIALIZED (
             SELECT a.vec_id, CAST(sum(a.qv * b.qv) AS BIGINT) AS rel
             FROM qv a JOIN qv b ON b.vec_id = 0 AND b.i = a.i
             WHERE a.vec_id <> 0 GROUP BY a.vec_id),
           pool AS MATERIALIZED (
             SELECT vec_id, rel FROM rel
             ORDER BY rel DESC, vec_id LIMIT 16),
           sim AS MATERIALIZED (
             SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                    CAST(sum(x.qv * y.qv) AS BIGINT) AS s
             FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
                  JOIN qv x ON x.vec_id = a.vec_id
                  JOIN qv y ON y.vec_id = b.vec_id AND y.i = x.i
             GROUP BY a.vec_id, b.vec_id),
           sel1 AS MATERIALIZED (
             SELECT 1 AS k, vec_id, rel, rel AS mmr FROM pool
             ORDER BY rel DESC, vec_id LIMIT 1)"""
      val loops = (2 to 8).map { r =>
        s"""cand$r AS MATERIALIZED (
              SELECT p.vec_id, p.rel, p.rel - max(s.s) AS mmr
              FROM pool p JOIN sim s ON s.a_id = p.vec_id
                AND s.b_id IN (SELECT vec_id FROM sel${r - 1})
              WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
              GROUP BY p.vec_id, p.rel),
            pick$r AS MATERIALIZED (
              SELECT $r AS k, vec_id, rel, mmr FROM cand$r
              ORDER BY mmr DESC, vec_id LIMIT 1),
            sel$r AS MATERIALIZED (
              SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r)"""
      }.mkString(",\n")
      s"$head,\n$loops\n SELECT k, vec_id, rel AS relevance, " +
        "mmr AS mmr_score FROM sel8 ORDER BY k"
    },
    // The SAME SymSpell deletion-neighborhood blocking as the engine,
    // INCLUDING the variant-bucket df cap (over the variant string —
    // the engine caps over its xxhash64, identical modulo ~n²/2⁶⁴
    // collisions), so semantics agree at ANY SF. LlmSpec separately
    // pins blocked ≡ brute-force O(n²) and capped ≡ uncapped at the
    // gate SFs, so this oracle still transitively proves the blocked
    // path loses nothing where the cap is a no-op.
    "dedup_fuzzy" ->
      s"""WITH vv AS (
           SELECT DISTINCT c_custkey, v FROM (
             SELECT c_custkey,
                    unnest(list_prepend(c_name,
                      list_transform(range(1, length(c_name) + 1),
                        i -> substr(c_name, 1, i - 1)
                          || substr(c_name, i + 1)))) AS v
             FROM customer) t),
         keep AS (
           SELECT v FROM vv GROUP BY v
           HAVING count(*) BETWEEN 2 AND $fuzzyBucketCap),
         cand AS (
           SELECT DISTINCT a.c_custkey AS a_id, b.c_custkey AS b_id
           FROM vv a JOIN keep USING (v) JOIN vv b USING (v)
           WHERE a.c_custkey < b.c_custkey)
         SELECT a_id, b_id,
                levenshtein(an.c_name, bn.c_name)::BIGINT AS dist
         FROM cand
           JOIN customer an ON an.c_custkey = a_id
           JOIN customer bn ON bn.c_custkey = b_id
         WHERE levenshtein(an.c_name, bn.c_name) <= 1
         ORDER BY a_id, b_id""",
    // Pinned from tools/phash_oracle.py (pure-python regeneration of
    // the Media.scala pixel spec — no JVM codec — cross-checked against
    // engine output before pinning). Each BMP original pairs ONLY with
    // its own PNG re-encode; nearest cross-image pair is hamming 27.
    "dedup_phash" ->
      """SELECT a_id, b_id, hamming::BIGINT AS hamming FROM (VALUES
('img_00.bmp', 'img_00.png', 0),
('img_01.bmp', 'img_01.png', 1),
('img_02.bmp', 'img_02.png', 0),
('img_03.bmp', 'img_03.png', 0),
('img_04.bmp', 'img_04.png', 0),
('img_05.bmp', 'img_05.png', 0),
('img_06.bmp', 'img_06.png', 0),
('img_07.bmp', 'img_07.png', 1))
         t(a_id, b_id, hamming) ORDER BY a_id, b_id""",
    // Same bigram extraction, same integer sums, same single IEEE
    // division — the threshold anchor (corpus mean) derives identically.
    "text_compress_ratio" -> CompressPins.textCompressRatio,
    "text_lm_score" ->
      """WITH bg AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, length(text)),
                    i -> substring(text, i, 2))) AS b
           FROM documents),
           model AS (SELECT b, count(*) AS f FROM bg GROUP BY b),
           scored AS (
           SELECT doc_id, count(*) AS n_bigrams, sum(f)::BIGINT AS support
           FROM bg JOIN model USING (b) GROUP BY doc_id),
           tot AS (SELECT sum(support)::BIGINT AS ts,
                          sum(n_bigrams)::BIGINT AS tn FROM scored)
         SELECT doc_id, n_bigrams, support,
                support::DOUBLE / n_bigrams AS lm_score,
                (support::DOUBLE / n_bigrams)
                  >= 0.5 * (ts::DOUBLE / tn) AS keep
         FROM scored, tot ORDER BY doc_id""",
    // Pinned from tools/recall_oracle.py (independent python XXH64
    // stack): 25 exact truth pairs, 24 surfaced by LSH — recall 0.96;
    // the one miss is the (26,455) pair of 9/10-shingle documents,
    // exactly the small-doc blind spot banding theory predicts.
    "dedup_minhash_recall" ->
      """SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id,
                n_shared::BIGINT AS n_shared, na::BIGINT AS na,
                nb::BIGINT AS nb, in_lsh
         FROM (VALUES
           (8, 245, 81, 82, 81, true),
           (26, 455, 9, 10, 9, false),
           (31, 383, 41, 41, 42, true),
           (44, 446, 22, 22, 23, true),
           (45, 267, 75, 77, 75, true),
           (45, 413, 76, 77, 76, true),
           (58, 293, 69, 70, 69, true),
           (61, 185, 56, 57, 56, true),
           (70, 447, 91, 92, 91, true),
           (72, 377, 40, 40, 41, true),
           (87, 134, 21, 21, 22, true),
           (92, 450, 23, 24, 23, true),
           (98, 290, 91, 91, 92, true),
           (107, 387, 37, 38, 37, true),
           (120, 332, 34, 35, 34, true),
           (152, 178, 36, 37, 36, true),
           (166, 323, 59, 59, 60, true),
           (267, 413, 75, 75, 76, true),
           (285, 301, 91, 92, 91, true),
           (295, 374, 29, 30, 29, true),
           (310, 389, 25, 25, 26, true),
           (326, 457, 34, 34, 35, true),
           (393, 420, 78, 79, 78, true),
           (435, 486, 29, 29, 30, true),
           (458, 462, 57, 57, 58, true))
         t(a_id, b_id, n_shared, na, nb, in_lsh)
         ORDER BY a_id, b_id""",
    // Same add-one bigram model, same ln-of-integer sums, same 1e-6
    // rounding grid; single-token docs drop on both sides.
    "text_perplexity" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
         idx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tk),
         inst AS (SELECT doc_id, t[i] AS p, t[i+1] AS w FROM idx),
         model AS (SELECT p, w, count(*) AS cbi FROM inst GROUP BY p, w),
         prefix AS (SELECT p, sum(cbi)::BIGINT AS cp FROM model GROUP BY p),
         vocab AS (SELECT count(DISTINCT tok)::BIGINT AS v
                   FROM (SELECT unnest(t) AS tok FROM tk)),
         sc AS (SELECT doc_id, count(*) AS n_bigrams,
                       sum(ln(cp + v)) AS sden, sum(ln(cbi + 1)) AS snum
                FROM inst JOIN model USING (p, w) JOIN prefix USING (p), vocab
                GROUP BY doc_id)
         SELECT doc_id, n_bigrams,
                round((sden - snum) / n_bigrams, 6) AS h_nats,
                round(exp((sden - snum) / n_bigrams), 4) AS ppl
         FROM sc ORDER BY doc_id""",
    // Same deterministic messy-URL synthesis, same RE2-safe
    // canonicalization chain (DuckDB regexp_replace is RE2 — the Spark
    // side deliberately avoids lookahead so both engines run the
    // identical patterns).
    "dedup_url" ->
      """WITH m AS (
           SELECT doc_id,
                  'https://' ||
                  CASE WHEN doc_id % 3 = 0
                       THEN 'CDN' || (doc_id % 7) || '.EXAMPLE.COM'
                       ELSE 'cdn' || (doc_id % 7) || '.example.com' END ||
                  CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||
                  '/docs/' || (doc_id % 50) ||
                  CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
                  CASE WHEN doc_id % 3 = 1 THEN '?utm_source=feed' ELSE '' END ||
                  CASE WHEN doc_id % 2 = 0 THEN '#s' || (doc_id % 11) ELSE '' END
                  AS url
           FROM documents),
           c AS (
           SELECT doc_id,
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(lower(url), '#.*$', ''),
                        '\?utm_[^#]*', ''),
                      ':443/', '/'),
                    '(.)/$', '\1') AS canonical_url
           FROM m)
         SELECT canonical_url, min(doc_id) AS keeper, count(*) AS n_docs
         FROM c GROUP BY canonical_url ORDER BY canonical_url""",
    "text_repetition" ->
      """WITH q AS (
           SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           b AS (
           SELECT doc_id, words,
                  len(words) AS n, len(list_distinct(words)) AS nd,
                  CASE WHEN len(words) > 1 THEN
                    list_transform(range(1, len(words)),
                      i -> words[i] || ' ' || words[i + 1])
                  ELSE [] END AS bigrams
           FROM q),
           t AS (
           SELECT doc_id, n, nd, bigrams,
                  coalesce(list_max(list_transform(list_distinct(bigrams),
                    bg -> len(list_filter(bigrams, x -> x = bg)))), 0) AS top
           FROM b)
         SELECT doc_id, n::BIGINT AS n_words, nd::BIGINT AS n_distinct_words,
                (n - nd)::DOUBLE / n::DOUBLE AS dup_word_frac,
                top::BIGINT AS top_bigram_n,
                CASE WHEN n > 1 THEN top::DOUBLE / (n - 1)::DOUBLE
                     ELSE 0.0 END AS top_bigram_frac,
                ((n - nd)::DOUBLE / n::DOUBLE > 0.3) OR
                  ((CASE WHEN n > 1 THEN top::DOUBLE / (n - 1)::DOUBLE
                    ELSE 0.0 END) > 0.18) AS flagged
         FROM t ORDER BY doc_id""",
    "text_score" ->
      """WITH q AS (
           SELECT doc_id,
                  len(string_split(text, ' '))::BIGINT AS ntok,
                  len(list_filter(string_split(text, ' '),
                      x -> x IN ('the','a','of','and','to')))::BIGINT AS stops,
                  len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::BIGINT AS punct,
                  length(text)::BIGINT AS nchars
           FROM documents)
         SELECT doc_id, ntok AS n_tokens, stops AS n_stopwords,
                punct AS n_punct,
                (600 * stops - 200 * punct + 3 * least(nchars, 500))::DOUBLE
                  / ntok::DOUBLE AS score,
                ((600 * stops - 200 * punct + 3 * least(nchars, 500))::DOUBLE
                  / ntok::DOUBLE) >= 50.0 AS keep
         FROM q ORDER BY doc_id""",
    "embed_normalize" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
                    FROM embeddings),
           n AS (SELECT vec_id, label, emb,
                   sqrt(list_reduce(list_transform(emb, x -> x * x),
                        (a, b) -> a + b)) AS nrm
                 FROM e)
         SELECT vec_id, label, nrm, emb[1] / nrm AS u0, emb[2] / nrm AS u1
         FROM n ORDER BY vec_id""",
    // Identical single-op sequences: one scale division, floor (never
    // bare CAST — Spark truncates, DuckDB rounds) + one division per
    // code, multiply/subtract/abs for the error. list_aggregate's sum
    // over BIGINT codes is cast back to BIGINT (DuckDB widens to
    // HUGEINT; Spark's aggregate folds in LONG).
    "embed_quantize" ->
      """WITH e AS (
           SELECT vec_id, label, embedding::DOUBLE[] AS x,
                  nullif(list_max(list_transform(embedding::DOUBLE[],
                    v -> abs(v))) / CAST(127 AS DOUBLE), 0.0) AS scale
           FROM embeddings)
         SELECT vec_id, label, scale,
                CAST(floor(x[1] / scale) AS BIGINT) AS q0,
                CAST(floor(x[2] / scale) AS BIGINT) AS q1,
                CAST(list_aggregate(list_transform(x,
                  v -> CAST(floor(v / scale) AS BIGINT)), 'sum')
                  AS BIGINT) AS sum_q,
                list_max(list_transform(x,
                  v -> abs(v - floor(v / scale) * scale))) AS max_err
         FROM e ORDER BY vec_id""",
    // len(regexp_extract_all) mirrors regexp_count; same literals,
    // same 2-division chain. Spark's split(text,' ',-1) counts words
    // as separator-fields; DuckDB's string_split is identical on the
    // trailing-separator cases.
    "text_readability" ->
      """WITH q AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
                  greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
                    AS BIGINT), 1) AS s,
                  CAST(len(regexp_extract_all(text, '[aeiouy]+'))
                    AS BIGINT) AS y
           FROM documents)
         SELECT doc_id, w AS n_words, s AS n_sentences, y AS n_syllables,
                206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                  - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))
                  AS flesch,
                CASE WHEN 206.835
                          - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                          - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))
                       >= 60.0 THEN 'easy'
                     WHEN 206.835
                          - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                          - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))
                       >= 30.0 THEN 'medium'
                     ELSE 'hard' END AS band
         FROM q ORDER BY doc_id""",
    "rank_mrr" ->
      """WITH ranked AS (
           SELECT doc_id, lang, (text LIKE '%dup%') AS rel,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY n_chars DESC, doc_id) AS rnk
           FROM documents),
         f AS (SELECT lang, min(rnk) AS first_rank
               FROM ranked WHERE rel GROUP BY 1),
         g AS (SELECT lang, count(*) AS n_docs,
                      CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_rel
               FROM ranked GROUP BY 1)
         SELECT g.lang, n_docs, n_rel, first_rank,
                CAST(1 AS DOUBLE) / CAST(first_rank AS DOUBLE) AS rr
         FROM g LEFT JOIN f ON g.lang = f.lang
         ORDER BY g.lang""",
    // Sequential rank-ordered folds (list_reduce ↔ Spark aggregate),
    // natural-log discounts, 6-place rounding on the ln-derived outputs.
    "rank_ndcg" ->
      """WITH ranked AS (
           SELECT doc_id, lang, (text LIKE '%dup%') AS rel,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY n_chars DESC, doc_id) AS rnk
           FROM documents),
         gains AS (
           SELECT lang, list_reduce(list_prepend(0.0::DOUBLE,
                    list(CASE WHEN rel
                           THEN 1.0 / ln(rnk::DOUBLE + 1.0)
                           ELSE 0.0 END ORDER BY rnk)),
                    (a, b) -> a + b) AS dcg
           FROM ranked WHERE rnk <= 10 GROUP BY lang),
         rels AS (
           SELECT lang, count(*) AS n_docs,
                  CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_rel
           FROM ranked GROUP BY lang),
         j AS (
           SELECT r.lang, r.n_docs, r.n_rel, g.dcg,
                  least(r.n_rel, 10) AS k
           FROM rels r JOIN gains g ON r.lang = g.lang),
         i AS (
           SELECT *, CASE WHEN k > 0 THEN
                    list_reduce(list_prepend(0.0::DOUBLE,
                      list_transform(generate_series(1, k),
                        x -> 1.0 / ln(x::DOUBLE + 1.0))),
                      (a, b) -> a + b)
                  ELSE 0.0 END AS idcg
           FROM j)
         SELECT lang, n_docs, n_rel, round(dcg, 6) AS dcg,
                round(idcg, 6) AS idcg,
                round(dcg / nullif(idcg, 0.0), 6) AS ndcg
         FROM i ORDER BY lang""",
    // Median-selected pairwise log-log slope over the top-32 ranks;
    // slopes rounded to 6 BEFORE the selection order.
    "text_zipf" ->
      """WITH tok AS (
           SELECT lang, unnest(string_split(text, ' ')) AS word
           FROM documents),
         freq AS (
           SELECT lang, word, count(*) AS c FROM tok
           WHERE word <> '' GROUP BY 1, 2),
         top AS (
           SELECT lang, r, c FROM (
             SELECT lang, c, row_number() OVER (PARTITION BY lang
               ORDER BY c DESC, word) AS r
             FROM freq) WHERE r <= 32),
         sl AS (
           SELECT a.lang, a.r AS r1, b.r AS r2,
                  round((ln(b.c::DOUBLE) - ln(a.c::DOUBLE))
                    / (ln(b.r::DOUBLE) - ln(a.r::DOUBLE)), 6) AS slope
           FROM top a JOIN top b
             ON a.lang = b.lang AND a.r < b.r),
         rr AS (
           SELECT lang, slope, r1, r2,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY slope, r1, r2) AS rn,
                  count(*) OVER (PARTITION BY lang) AS m
           FROM sl)
         SELECT lang, m AS n_pairs, slope AS zipf_slope
         FROM rr WHERE rn = (m + 1) // 2
         ORDER BY lang""",
    // Identical LSH bucket function (plane literals from lshPlanes):
    // candidates pair only within a shared bucket, as in the Spark plan.
    "sim_range_search" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
                     FROM embeddings),
          eb AS (SELECT vec_id, emb, ${duckLshBucket("emb")} AS bucket
                 FROM e)
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 ${duckCosOf("a", "b")} AS cos
          FROM eb a JOIN eb b ON a.bucket = b.bucket
                             AND a.vec_id < b.vec_id
          WHERE ${duckCosOf("a", "b")} >= 0.45
          ORDER BY a_id, b_id""",
    // Pinned at sf0.01 from an INDEPENDENT implementation (pure-python
    // XXH64 validated against Spark + from-scratch simhash/pigeonhole
    // over the raw parquet — SimhashPins.scala); upgrades both queries
    // from rows-only to exact-hash verification.
    "dedup_simhash" -> SimhashPins.dedupSimhash,
    "dedup_simhash_pairs" -> SimhashPins.dedupSimhashPairs,
    "dedup_minhash" -> MinhashPins.dedupMinhash,
    "dedup_incremental" -> IncrementalPins.dedupIncremental,
    "dedup_minhash_agg" -> MinhashPins.dedupMinhashAgg,
    "dedup_cluster" -> MinhashPins.dedupCluster,
    // Same 10-token segmentation as text_seg_dedup; per-source doc
    // counts and the integer cross-multiplied 5% threshold.
    "text_boilerplate" ->
      """WITH toks AS (
           SELECT source, doc_id, string_split(text, ' ') AS t
           FROM documents),
         segs AS (
           SELECT source, doc_id,
                  array_to_string(t[(j*10+1):(j*10+10)], ' ') AS seg
           FROM toks,
                unnest(range(0, ceil(len(t)/10.0)::BIGINT)) AS u(j)),
         nd AS (SELECT source, count(*)::BIGINT AS n_docs
                FROM documents GROUP BY source),
         df AS (SELECT source, seg,
                       count(DISTINCT doc_id)::BIGINT AS df
                FROM segs GROUP BY source, seg)
         SELECT df.source, seg, df, n_docs,
                df::DOUBLE / n_docs AS df_ratio
         FROM df JOIN nd ON nd.source = df.source
         WHERE df >= 2 AND df * 20 >= n_docs
         ORDER BY df.source, df DESC, seg""",
    "text_seg_dedup" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         segs AS (
           SELECT doc_id, j AS seg_idx,
                  array_to_string(t[(j*10+1):(j*10+10)], ' ') AS seg
           FROM toks,
                unnest(range(0, ceil(len(t)/10.0)::BIGINT)) AS u(j)),
         dup AS (
           SELECT seg FROM segs GROUP BY seg
           HAVING count(DISTINCT doc_id) >= 2),
         fl AS (
           SELECT s.doc_id, s.seg_idx, s.seg,
                  (d.seg IS NOT NULL) AS is_dup
           FROM segs s LEFT JOIN dup d USING (seg))
         SELECT doc_id,
                coalesce(string_agg(CASE WHEN NOT is_dup THEN seg END,
                  ' ' ORDER BY seg_idx), '') AS clean_text,
                sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dropped
         FROM fl GROUP BY doc_id ORDER BY doc_id""",
    // Same tokenization, same 20-token windows, same md5-of-joined-text
    // fingerprint, same >=2 global-occurrence rule — counts are BIGINT
    // throughout (count/count-FILTER, never an integer sum).
    "dedup_substring" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         b2 AS (SELECT doc_id, t FROM base WHERE len(t) >= 20),
         wins AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(t) - 18),
                    i -> md5(array_to_string(t[i:i+19], ' ')))) AS h
           FROM b2),
         c AS (SELECT h, count(*) AS cnt FROM wins GROUP BY h)
         SELECT w.doc_id AS doc_id, count(*) AS n_win,
                count(*) FILTER (WHERE c.cnt >= 2) AS n_dup_win,
                count(*) FILTER (WHERE c.cnt >= 2) * 5 >= count(*) AS flagged
         FROM wins w JOIN c USING (h)
         GROUP BY w.doc_id ORDER BY doc_id""",
    // Removal twin: same tokenization, windows, md5 fingerprints and
    // ≥2-occurrence rule; covered token positions are the union of
    // duplicated windows' [i, i+19] ranges; survivors reassemble in
    // order. coalesce('') because a fully-covered document must come
    // out as the empty string (Spark's concat_ws semantics), and the
    // list_filter index lambda mirrors Spark's position zip exactly.
    "dedup_substring_remove" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         wins AS (
           SELECT doc_id, i, md5(array_to_string(t[i:i+19], ' ')) AS h
           FROM (SELECT doc_id, t FROM base WHERE len(t) >= 20) b,
                unnest(range(1, len(t) - 18)) AS u(i)),
         c AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
         cov AS (
           SELECT doc_id, list_sort(list(DISTINCT p)) AS cov
           FROM (SELECT w.doc_id, unnest(range(w.i, w.i + 20)) AS p
                 FROM wins w JOIN c USING (h)) q
           GROUP BY doc_id)
         SELECT b.doc_id,
                coalesce(array_to_string(list_filter(b.t, (tok, p) ->
                  NOT list_contains(coalesce(cov.cov, []), p)), ' '), '')
                  AS clean_text,
                len(b.t)::BIGINT AS n_tokens,
                coalesce(len(cov.cov), 0)::BIGINT AS n_removed
         FROM base b LEFT JOIN cov USING (doc_id)
         ORDER BY b.doc_id""",
    "decontaminate" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         grams AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS g
           FROM toks, unnest(range(1, greatest(len(t)-2, 2))) AS u(i)
           WHERE len(t) >= 4),
         ev AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5),
         hits AS (
           SELECT doc_id, count(*) AS n_shared
           FROM grams JOIN ev USING (g)
           WHERE doc_id >= 5 GROUP BY doc_id)
         SELECT d.doc_id,
                coalesce(h.n_shared, 0)::BIGINT AS n_shared,
                coalesce(h.n_shared, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits h USING (doc_id)
         WHERE d.doc_id >= 5 ORDER BY d.doc_id""",
    // Same md5-derived bit positions (j||'|'||gram → 32-bit hex prefix
    // mod 4096), same k=3 all-bits-set membership, same exact verify
    // join — the bitset is reproduced as a DISTINCT position set, which
    // tests the identical bits.
    "dedup_bloom" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         grams AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS g
           FROM toks, unnest(range(1, greatest(len(t)-2, 2))) AS u(i)
           WHERE len(t) >= 4),
         ev AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5),
         bset AS (
           SELECT DISTINCT
             (('0x' || substr(md5(j::VARCHAR || '|' || g), 1, 8))::BIGINT
               % 4096) AS p
           FROM ev, (SELECT unnest([0,1,2]) AS j) jj),
         cpos AS (
           SELECT doc_id, g,
             (('0x' || substr(md5(j::VARCHAR || '|' || g), 1, 8))::BIGINT
               % 4096) AS p
           FROM grams, (SELECT unnest([0,1,2]) AS j) jj
           WHERE doc_id >= 5),
         pass AS (
           SELECT c.doc_id, c.g
           FROM cpos c LEFT JOIN bset b ON c.p = b.p
           GROUP BY c.doc_id, c.g HAVING count(b.p) = 3),
         nb AS (SELECT doc_id, count(*) AS n_bloom FROM pass
                GROUP BY doc_id),
         ne AS (SELECT doc_id, count(*) AS n_exact FROM pass
                JOIN ev USING (g) GROUP BY doc_id)
         SELECT d.doc_id,
                coalesce(nb.n_bloom, 0)::BIGINT AS n_bloom,
                coalesce(ne.n_exact, 0)::BIGINT AS n_exact,
                (coalesce(nb.n_bloom, 0) - coalesce(ne.n_exact, 0))::BIGINT
                  AS n_false_pos,
                coalesce(ne.n_exact, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN nb USING (doc_id)
                          LEFT JOIN ne USING (doc_id)
         WHERE d.doc_id >= 5 ORDER BY d.doc_id""",
    // The IDENTICAL 40-round integer power iteration unrolled as
    // materialized HUGEINT CTEs: same 1e-6 quantization, same
    // truncate-toward-zero rescale (BigInteger / ≡ DuckDB //), same
    // exact-integer norm/Rayleigh operands — every intermediate
    // bit-identical, so the two doubles at the end match exactly.
    "embed_pca" -> {
      val head =
        """WITH q AS MATERIALIZED (
             SELECT vec_id, i-1 AS i, CAST(floor(e*1e6+0.5) AS BIGINT) AS qv
             FROM (SELECT vec_id, unnest(embedding) AS e,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings)),
           s AS MATERIALIZED (SELECT i, sum(qv)::BIGINT AS sv FROM q GROUP BY i),
           nn AS MATERIALIZED (SELECT count(DISTINCT vec_id)::BIGINT AS n FROM q),
           ssum AS MATERIALIZED (
             SELECT a.i AS i, b.i AS j, sum(a.qv*b.qv)::BIGINT AS ssv
             FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
           g AS MATERIALIZED (
             SELECT ssum.i, ssum.j,
                    CAST(nn.n AS HUGEINT)*ssv
                      - CAST(sa.sv AS HUGEINT)*sb.sv AS v
             FROM ssum, nn JOIN s sa ON sa.i = ssum.i
                           JOIN s sb ON sb.i = ssum.j),
           x0 AS MATERIALIZED (SELECT i, CAST(1 AS HUGEINT) AS x FROM s)"""
      val loops = (1 to 40).map { r =>
        s"""w$r AS MATERIALIZED (
              SELECT g.i AS i, sum(g.v * x${r - 1}.x) AS wv
              FROM g JOIN x${r - 1} ON g.j = x${r - 1}.i GROUP BY g.i),
            m$r AS MATERIALIZED (
              SELECT (max(abs(wv)) // 1099511627776) + 1 AS dv FROM w$r),
            x$r AS MATERIALIZED (SELECT i, wv // dv AS x FROM w$r, m$r)"""
      }.mkString(",\n")
      val tail =
        """fin AS MATERIALIZED (SELECT i, x, x // 1048576 AS xr FROM x40),
           nrm AS (SELECT sqrt(CAST(sum(x*x) AS DOUBLE)) AS s2 FROM fin),
           num AS (SELECT sum(f.xr * g.v * f2.xr) AS nv
                   FROM g JOIN fin f ON f.i = g.i
                          JOIN fin f2 ON f2.i = g.j),
           den AS (SELECT sum(xr*xr) AS dv FROM fin)
           SELECT fin.i AS dim,
                  round(CAST(fin.x AS DOUBLE)/nrm.s2, 6) AS component,
                  round(CAST(num.nv AS DOUBLE)/CAST(den.dv AS DOUBLE), 4)
                    AS rayleigh
           FROM fin, nrm, num, den ORDER BY fin.i"""
      s"$head,\n$loops,\n$tail"
    },
    // Same integer cross-multiplied rule laws, same stop-word list —
    // no floating point on either side.
    "text_gopher" ->
      """WITH m AS (
           SELECT doc_id, source,
                  len(string_split(text, ' '))::BIGINT AS n_words,
                  length(replace(text, ' ', ''))::BIGINT AS n_letters,
                  len(list_distinct(string_split(text, ' ')))::BIGINT
                    AS n_distinct,
                  len(list_intersect(string_split(text, ' '),
                      ['the','a','of','and','to']))::BIGINT AS n_stop
           FROM documents)
         SELECT doc_id, source, n_words, n_letters, n_distinct, n_stop,
                n_words >= 20 AND n_words <= 80 AS r_count,
                n_letters * 10 >= n_words * 40 AND
                  n_letters * 10 <= n_words * 45 AS r_wordlen,
                (n_words - n_distinct) * 10 <= n_words * 6 AS r_dupfrac,
                n_stop >= 2 AS r_stop,
                (n_words >= 20 AND n_words <= 80) AND
                  (n_letters * 10 >= n_words * 40 AND
                   n_letters * 10 <= n_words * 45) AND
                  ((n_words - n_distinct) * 10 <= n_words * 6) AND
                  (n_stop >= 2) AS keep
         FROM m ORDER BY doc_id""",
    "text_normalize" ->
      """SELECT doc_id, length(text)::BIGINT AS raw_chars,
                trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
                length(trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))::BIGINT
                  AS norm_chars
         FROM documents ORDER BY doc_id""",
    // Identical synthesis + strip chain, literal-for-literal; both
    // engines run the same RE2-safe patterns (inline (?s), lazy .*?)
    // and the same decode ORDER (&amp; last).
    "text_html_extract" ->
      """WITH pg AS (
           SELECT doc_id,
                  '<html><head><title>' || source ||
                  '</title><style>body{margin:0} p{line-height:1.4}</style>' ||
                  '<script>var a=1; if(a&lt;2){a=2;}</script></head>' ||
                  '<body><nav><a href="/">home</a> <a href="/p?x=1&amp;y=2">next</a></nav><h1>' ||
                  source || ' #' || doc_id || '</h1><p>' ||
                  regexp_replace(
                    regexp_replace(text, ' spark ',
                      '</p>' || chr(10) || '<p>spark ', 'g'),
                    ' data ', '&nbsp;data&nbsp;', 'g') ||
                  '</p><footer>graft &amp; co &amp;lt;not-a-tag&gt;</footer></body></html>'
                    AS page
           FROM documents),
           st AS (
           SELECT doc_id, page,
                  trim(regexp_replace(
                    replace(replace(replace(replace(replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(page,
                            '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
                        '<[^>]+>', ' ', 'g'),
                      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                      '&quot;', '"'), '&amp;', '&'),
                    '\s+', ' ', 'g')) AS clean_text
           FROM pg)
         SELECT doc_id,
                (len(string_split(page, '<p>')) - 1)::BIGINT AS n_paragraphs,
                clean_text, length(clean_text)::BIGINT AS n_chars
         FROM st ORDER BY doc_id""",
    "text_pii_scrub" ->
      """WITH r AS (
           SELECT doc_id,
                  'contact ' || source || doc_id || '@example.com or call +1-555-'
                  || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  || ' about: ' || substring(text, 1, 40) AS raw
           FROM documents)
         SELECT doc_id, raw,
                regexp_replace(
                  regexp_replace(raw,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                    '<EMAIL>', 'g'),
                  '\+[0-9][0-9-]{6,}', '<PHONE>', 'g') AS clean
         FROM r ORDER BY doc_id""",
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
         FROM documents GROUP BY text ORDER BY doc_id""",
    // Same df-cap (16) as the Spark plan: grams in > 16 docs of a
    // (source, lang) block are dropped before pairing; jaccard is over
    // the capped gram universe. At sf0.01 blocks have ≤ 16 docs, so the
    // cap is a no-op and the result equals the uncapped query.
    "dedup_ngram" ->
      """WITH g AS (
           SELECT doc_id, source, lang,
                  unnest(list_distinct(list_transform(
                    range(1, greatest(length(text)-3, 1) + 1),
                    i -> substr(text, i, 4)))) AS gram
           FROM documents),
         keep AS (
           SELECT source, lang, gram FROM g
           GROUP BY source, lang, gram HAVING count(*) <= 16),
         gk AS (SELECT g.* FROM g JOIN keep USING (source, lang, gram)),
         sizes AS (SELECT doc_id, count(*) AS n FROM gk GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
           FROM gk a JOIN gk b ON a.source = b.source AND a.lang = b.lang
                              AND a.gram = b.gram AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT a_id, b_id,
                inter::DOUBLE / (sa.n + sb.n - inter)::DOUBLE AS jacc
         FROM inter
         JOIN sizes sa ON sa.doc_id = a_id
         JOIN sizes sb ON sb.doc_id = b_id
         ORDER BY jacc DESC, a_id, b_id LIMIT 10""",
    // Identical LSH bucket function (plane literals from lshPlanes):
    // candidates pair only within (label, bucket), as in the Spark plan.
    "dedup_embed" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
                     FROM embeddings),
          eb AS (SELECT vec_id, label, emb,
                        ${duckLshBucket("emb")} AS bucket
                 FROM e),
          pairs AS (
            SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
                   ${duckCosOf("a", "b")} AS cos
            FROM eb a JOIN eb b ON a.label = b.label AND a.bucket = b.bucket
                               AND a.vec_id < b.vec_id)
          SELECT label, a_id, b_id, cos, rn FROM (
            SELECT label, a_id, b_id, cos,
                   row_number() OVER (PARTITION BY label
                     ORDER BY cos DESC, a_id, b_id) AS rn
            FROM pairs)
          WHERE rn <= 20 ORDER BY label, rn""",
    // Identical Voronoi-seed blocking (same integer micro-unit metric,
    // same (dist, cid) argmin tie-break) + identical cosine fold and
    // (cos DESC, a_id) best-neighbor selection — decisions, not
    // plausibility, are what hash-matches.
    "dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
                     FROM embeddings),
          q AS (SELECT vec_id, emb,
                       list_transform(emb,
                         x -> floor((x + 1) * 1000000)::BIGINT) AS qv
                FROM e),
          seeds AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 8),
          asg AS (SELECT q.vec_id, q.emb, s.cid,
                         list_reduce(list_transform(list_zip(q.qv, s.cv),
                           p -> (p[1] - p[2]) * (p[1] - p[2])),
                           (acc, x) -> acc + x) AS dist
                  FROM q CROSS JOIN seeds s),
          cl AS (SELECT vec_id, emb, cid FROM (
                   SELECT *, row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cid) AS rn
                   FROM asg) WHERE rn = 1),
          best AS (SELECT vec_id, dup_of, cos FROM (
                     SELECT b.vec_id AS vec_id, a.vec_id AS dup_of,
                            ${duckCosOf("a", "b")} AS cos,
                            row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY ${duckCosOf("a", "b")} DESC,
                                       a.vec_id) AS rn
                     FROM cl a JOIN cl b
                       ON a.cid = b.cid AND a.vec_id < b.vec_id
                     WHERE ${duckCosOf("a", "b")} >= 0.45)
                   WHERE rn = 1)
          SELECT cl.vec_id, cl.cid AS cluster,
                 CASE WHEN best.dup_of IS NULL THEN 'keep' ELSE 'dup' END
                   AS status,
                 coalesce(best.dup_of, -1) AS dup_of,
                 round(coalesce(best.cos, 0), 6) AS cos
          FROM cl LEFT JOIN best USING (vec_id)
          ORDER BY vec_id""",
    "text_fingerprint" ->
      """SELECT doc_id,
                list_reduce(
                  list_prepend(0::BIGINT,
                    list_transform(string_split(text, ''),
                                   c -> ord(c)::BIGINT)),
                  (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""",
    // Identical k-gram rolling hash, identical w-window min selection
    // (k=8, w=4), identical fold seed — pure integer math throughout.
    "text_winnow" ->
      """WITH c AS (
           SELECT doc_id,
                  list_transform(string_split(text, ''),
                                 ch -> ord(ch)::BIGINT) AS chars
           FROM documents),
           g AS (
           SELECT doc_id,
                  list_transform(range(1, greatest(len(chars) - 7, 1) + 1),
                    i -> list_reduce(list_prepend(0::BIGINT, chars[i:i+7]),
                           (acc, ch) -> (acc * 31 + ch) % 1000000007)) AS grams
           FROM c),
           f AS (
           SELECT doc_id,
                  list_distinct(
                    list_transform(range(1, greatest(len(grams) - 3, 1) + 1),
                      j -> list_min(grams[j:j+3]))) AS fps
           FROM g),
           e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
           s AS (SELECT fp FROM e GROUP BY fp
                 HAVING count(DISTINCT doc_id) >= 2)
         SELECT e.doc_id, count(*) AS n_fps,
                sum(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_shared,
                sum(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                  / count(*) AS share_frac
         FROM e LEFT JOIN s USING (fp)
         GROUP BY e.doc_id ORDER BY doc_id""",
    // Identical LSH bucket function (plane literals from lshPlanes):
    // each query probes only its own bucket, as in the Spark plan —
    // exact-hash-verified, not merely rows-only.
    "sim_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
          eb AS (SELECT vec_id, emb, ${duckLshBucket("emb")} AS bucket FROM e),
          pairs AS (
            SELECT q.vec_id AS qid, e.vec_id AS vec_id, $duckCos AS cos
            FROM eb q JOIN eb e ON q.bucket = e.bucket
                               AND q.vec_id < 5 AND e.vec_id <> q.vec_id)
          SELECT qid, rn, vec_id, round(cos, 6) AS cosine
          FROM (SELECT qid, vec_id, cos,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY cos DESC, vec_id) AS rn
                FROM pairs)
          WHERE rn <= 10 ORDER BY qid, rn""",
    "sim_cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
          pairs AS (
            SELECT q.vec_id AS qid, e.vec_id AS vec_id, $duckCos AS cos
            FROM e q JOIN e ON q.vec_id < 5 AND e.vec_id <> q.vec_id)
          SELECT qid, rn, vec_id, round(cos, 6) AS cosine
          FROM (SELECT qid, vec_id, cos,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY cos DESC, vec_id) AS rn
                FROM pairs)
          WHERE rn <= 10 ORDER BY qid, rn""",
    "text_stats" ->
      """SELECT lang, count(*) AS n_docs,
                sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
                round(sum(len(string_split(text, ' ')))::DOUBLE / count(*), 4)
                  AS avg_tokens,
                sum(n_chars)::BIGINT AS total_chars
         FROM documents GROUP BY lang ORDER BY lang""",
    "text_tokens" ->
      """SELECT doc_id,
                len(string_split(text, ' '))::BIGINT AS ws_tokens,
                len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT
                  AS re_tokens,
                length(text)::BIGINT AS len_chars
         FROM documents ORDER BY doc_id""",
    "text_quality" ->
      """WITH q AS (
           SELECT doc_id,
                  len(string_split(text, ' '))::DOUBLE AS n_tok,
                  len(list_filter(string_split(text, ' '),
                      x -> x IN ('the','a','of','and','to')))::DOUBLE AS stops,
                  len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE AS punct,
                  length(text)::DOUBLE AS n_chars
           FROM documents)
         SELECT doc_id, n_tok::BIGINT AS n_tokens,
                round(stops / n_tok, 4) AS stop_ratio,
                round(punct / n_chars, 4) AS punct_ratio,
                round((n_chars - (n_tok - 1)) / n_tok, 4) AS avg_word_len,
                round(least(n_tok, 200.0) / 200.0 * 0.5 + (stops / n_tok) * 0.5, 4)
                  AS quality
         FROM q ORDER BY doc_id""",
    "text_lang_id" ->
      """WITH c AS (
           SELECT doc_id, lang,
                  (length(text) - length(replace(text, 'e', '')))::DOUBLE * 1.27
                + (length(text) - length(replace(text, 't', '')))::DOUBLE * 0.91 AS s_en,
                  (length(text) - length(replace(text, 'a', '')))::DOUBLE * 1.25
                + (length(text) - length(replace(text, 'o', '')))::DOUBLE * 0.87 AS s_es,
                  (length(text) - length(replace(text, 'n', '')))::DOUBLE * 1.00
                + (length(text) - length(replace(text, 's', '')))::DOUBLE * 0.73 AS s_de,
                  (length(text) - length(replace(text, 'i', '')))::DOUBLE * 0.76
                + (length(text) - length(replace(text, 'u', '')))::DOUBLE * 0.63 AS s_fr
           FROM documents)
         SELECT doc_id, lang,
                CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                     WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                     WHEN s_de >= s_fr THEN 'de'
                     ELSE 'fr' END AS pred_lang,
                (CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                      WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                      WHEN s_de >= s_fr THEN 'de'
                      ELSE 'fr' END = lang) AS is_match
         FROM c ORDER BY doc_id""",
    "pipeline_clean" ->
      """WITH q AS (
           SELECT doc_id, source, text,
                  least(len(string_split(text, ' '))::DOUBLE, 200.0) / 200.0 * 0.5
                  + (len(list_filter(string_split(text, ' '),
                         x -> x IN ('the','a','of','and','to')))::DOUBLE
                     / len(string_split(text, ' '))::DOUBLE) * 0.5 AS quality
           FROM documents WHERE lang IN ('en','es','de')),
         f AS (SELECT * FROM q WHERE quality >= 0.15),
         dd AS (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
                FROM f)
         SELECT source, count(*) AS n_docs,
                sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
                round(sum(CAST(quality AS DECIMAL(18,4))), 4)::DOUBLE AS sum_quality
         FROM dd WHERE rn = 1 GROUP BY source ORDER BY source""",
    "multimodal_join" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)
         SELECT doc_id, lang, label, n_chars,
                emb[1] AS emb0,
                round(sqrt(list_reduce(list_transform(emb, x -> x * x),
                                       (a, b) -> a + b)), 6) AS emb_norm
         FROM documents JOIN e ON doc_id = vec_id
         ORDER BY doc_id""",
  )
}
