package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Retrieval fusion and data-selection scoring — the steps that sit
 * between the engine's two retrieval families (sparse BM25 in
 * [[Terms]], dense ANN in [[Similarity]]) and corpus curation.
 *
 * Both operators keep the repo's all-integer discipline: ranks and
 * counts are the only inputs, every division is integer division, so
 * results are bit-identical across engines and carry full DuckDB
 * oracles (no float tolerance anywhere).
 */
object Retrieval {

  /**
   * Hybrid retrieval via reciprocal-rank fusion: fuse the BM25 top-k
   * ([[Terms.bm25TopK]]) and dense-cosine top-k
   * ([[Similarity.bruteForceTopK]]) lists for the same probe set with
   * the standard RRF score Σ_rankers 1/(rrfK + rank), scaled to stay
   * integer: rrf = Σ scale div (rrfK + rank), a document missing from
   * one ranker's list contributing 0 from it. The canonical
   * first-stage retriever of a RAG / data-selection pipeline —
   * lexical and semantic evidence combined without score calibration
   * (ranks only, so the two rankers' incomparable score scales never
   * meet).
   *
   * Output: (probe_id, rank, doc_id, rrf), rank 1..k per probe, ties
   * broken by doc_id.
   *
   * Scale: each ranker's output is probes × kInner rows — the fusion
   * join and top-k never touch anything corpus-sized, so the whole
   * fusion stage costs ~nothing beyond the two rankers themselves
   * (BM25: work ∝ Σ df(term); dense: one broadcast-probe scan). The
   * per-probe top-k is the salted two-stage rank ([[Skew.groupTopK]]).
   */
  def hybridRrf(corpusText: DataFrame, probesText: DataFrame,
                corpusEmb: DataFrame, probesEmb: DataFrame,
                id: String, text: String, vec: String, dim: Int,
                kInner: Int, k: Int,
                terms: Column => Column = TF.tokens,
                rrfK: Int = 60, scale: Long = 1000000L): DataFrame = {
    require(kInner > 0 && k > 0, "kInner and k must be > 0")
    val bm = Terms.bm25TopK(corpusText, probesText, id, text, kInner, terms)
      .select(col("probe_id"), col("doc_id"), col("rank").as("__rt"))
    val dn = Similarity.bruteForceTopK(corpusEmb, probesEmb, id, vec, dim,
        kInner)
      .select(col("query_id").as("probe_id"),
        col("neighbor_id").as("doc_id"), col("rnk").cast("long").as("__rd"))
    fuseRrf(bm, dn, k, rrfK, scale)
  }

  /** Shared RRF fusion tail: full-outer rank join + integer rrf +
    * salted per-probe top-k. Inputs carry (probe_id, doc_id, __rt) and
    * (probe_id, doc_id, __rd). */
  private def fuseRrf(bm: DataFrame, dn: DataFrame, k: Int,
                      rrfK: Int, scale: Long): DataFrame = {
    val fused = bm.join(dn, Seq("probe_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr(s"$scale div (${rrfK.toLong} + __rt)"), lit(0L)) +
          coalesce(expr(s"$scale div (${rrfK.toLong} + __rd)"), lit(0L)))
    Skew.groupTopK(fused, Seq("probe_id"),
      Seq(col("rrf").desc, col("doc_id").asc), k, rankCol = "rank")
      .withColumn("rank", col("rank").cast("long"))
      .select("probe_id", "rank", "doc_id", "rrf")
  }

  /**
   * The steady-state form of [[hybridRrf]]: both rankers probe their
   * PERSISTED indexes — [[TermIndex.topK]] (exact BM25 over the
   * committed corpus, max-score pruned probes) and [[IvfIndex.topK]]
   * (list-pruned ANN) — so a recurring probe workload costs index
   * reads ∝ probe vocabulary / probed lists, never a corpus scan,
   * tokenize, or corpus-sized broadcast. This is the RAG first stage
   * a serving pipeline actually runs: the corpus is ingested once
   * (batch or streaming CDC — [[graft.streaming.Streams]]), probes
   * arrive forever. Fusion is the same all-integer RRF as the inline
   * form, over the same rank-only inputs.
   *
   * Exactness: the BM25 leg is exact by the TermIndex contract; the
   * dense leg is exact when `nProbe` covers every list — at that
   * setting this returns EXACTLY [[hybridRrf]]'s output over the
   * indexed corpus (RetrievalSpec), and with nProbe < nList it trades
   * dense recall for probe cost like any IVF query.
   *
   * PROBE-COST GATE (default on, `termCfg.maxCandidateFraction`): the
   * BM25 leg is priced by [[TermIndex.estimateProbeCost]] before any
   * posting is read. A batch priced above the gate is document-shaped
   * — its exact sparse cost is corpus-linear by the adjudicated floor
   * (BENCH_NOTES_r10 §2) — and this method FALLS BACK to the dense
   * leg alone for the batch (RRF over one ranking): the automated
   * form of the deployment routing that adjudication prescribes.
   * Search-shaped probes price far below the gate and fuse both legs
   * untouched. The last gate decision is observable at
   * [[lastGateDecision]]; set `termCfg.maxCandidateFraction =
   * TermIndex.ExactUnbounded` to force the exact sparse leg
   * regardless of shape (the oracled q_hybrid_rrf_idx does — its
   * contract is equality with the inline hybrid).
   */
  def hybridRrfIndexed(spark: org.apache.spark.sql.SparkSession,
                       termIdxDir: String, ivfIdxDir: String,
                       probesText: DataFrame, probesEmb: DataFrame,
                       id: String, text: String, vec: String,
                       kInner: Int, k: Int,
                       terms: Column => Column = TF.tokens,
                       termCfg: TermIndex.Config = TermIndex.Config(),
                       nProbe: Int = 4,
                       rrfK: Int = 60, scale: Long = 1000000L): DataFrame = {
    require(kInner > 0 && k > 0, "kInner and k must be > 0")
    // one pinned version is priced AND probed, so the batch is priced
    // once: topKAt runs with the gate already applied here
    val termV = TermIndex.latestVersion(spark, termIdxDir)
    val gated =
      if (termCfg.maxCandidateFraction.isPosInfinity) None
      else {
        val cost = TermIndex.estimateProbeCostAt(spark, termIdxDir, termV,
          probesText, id, text, termCfg, terms)
        if (cost.candidateFraction > termCfg.maxCandidateFraction)
          Some(cost)
        else None
      }
    lastGate.set(gated)
    val bm = gated match {
      case Some(_) =>
        // gated: the sparse leg is skipped for this batch — candidates
        // come from the dense leg alone, cost ∝ probed lists
        probesText.limit(0).select(lit(0L).as("probe_id"),
          lit(0L).as("doc_id"), lit(0L).as("__rt"))
      case None =>
        TermIndex.topKAt(spark, termIdxDir, termV, probesText, id, text,
            kInner,
            termCfg.copy(maxCandidateFraction = TermIndex.ExactUnbounded),
            terms)
          .select(col("probe_id"), col("doc_id"), col("rank").as("__rt"))
    }
    val dn = IvfIndex.topK(spark, ivfIdxDir, probesEmb, id, vec, kInner,
        nProbe)
      .select(col("query_id").as("probe_id"),
        col("neighbor_id").as("doc_id"), col("rnk").cast("long").as("__rd"))
    fuseRrf(bm, dn, k, rrfK, scale)
  }

  /** The most recent [[hybridRrfIndexed]] gate decision ON THIS
    * THREAD: Some(cost) when the batch was priced above the gate and
    * served dense-only, None when both legs ran — observability for
    * specs and stress harnesses (the [[TermIndex]] max-score counter's
    * sibling). Thread-scoped so concurrent hybridRrfIndexed callers
    * never observe each other's decision (a query runs synchronously
    * on its calling thread, so "my last call" is well-defined). */
  def lastGateDecision: Option[TermIndex.ProbeCost] =
    Option(lastGate.get).flatten

  private val lastGate =
    new ThreadLocal[Option[TermIndex.ProbeCost]]()

  /**
   * DSIR-style importance weights (Xie et al., "Data Selection for
   * Language Models via Importance Resampling"): score every document
   * by how much its hashed n-gram feature profile resembles a target
   * distribution relative to the raw corpus. Features are md5-hash
   * buckets of terms (engine-independent, [[Sampling.hashBucket]];
   * `terms` picks the n-gram order — DSIR hashes uni+bigrams, and on
   * a shared-vocabulary corpus only bigrams discriminate);
   * per-bucket surprisal under each distribution is quantized to
   * floor(log2((T + B) div (c + 1))) — add-one smoothed so
   * target-absent buckets stay finite — and a document's weight is
   *
   *   weight = Σ_buckets c_doc(b) · (u_raw(b) − u_target(b)),
   *
   * the quantized log importance ratio log2(p_target/p_raw) summed
   * over the document's features: high weight = looks like the
   * target. Downstream selection is then a weighted sample (e.g.
   * [[Sampling]] with the weight as the stratum), which is exactly
   * DSIR's resampling step. The target must be non-empty.
   *
   * Output: (id, n_tokens, weight) — one row per document with ≥1
   * token.
   *
   * Scale: per-(doc, bucket) counts are one wordcount-shaped Exchange
   * whose key space is docs × ≤buckets; the raw and target bucket
   * tables are folds OVER that frame (never the corpus), and the
   * scoring join is a broadcast of the `buckets`-row table — work is
   * one corpus scan plus count-sized aggregates, independent of
   * target size.
   */
  def dsirWeights(df: DataFrame, id: String, text: String,
                  isTarget: Column, buckets: Int = 64,
                  terms: Column => Column = TF.tokens): DataFrame = {
    require(buckets > 0, "buckets must be > 0")
    val docB = df
      .select(col(id), isTarget.cast("boolean").as("__tgt"),
        explode(terms(col(text))).as("__tok"))
      .withColumn("b", pmod(Sampling.hashBucket(col("__tok")), lit(buckets.toLong)))
      .groupBy(col(id), col("__tgt"), col("b"))
      .agg(count(lit(1)).as("c"))
    val raw = docB.groupBy("b").agg(sum("c").as("cr"))
    val tgt = docB.filter(col("__tgt")).groupBy("b").agg(sum("c").as("ct"))
    val totals = raw.agg(sum("cr").as("tr"))
      .crossJoin(tgt.agg(sum("ct").as("tt")))
    val table = raw.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        expr(s"cast(length(bin((tr + $buckets) div (cr + 1))) - 1 as bigint)")
          .as("ur"),
        expr(s"cast(length(bin((tt + $buckets) div (ct + 1))) - 1 as bigint)")
          .as("ut"))
    docB.join(broadcast(table), "b")
      .groupBy(col(id))
      .agg(sum("c").as("n_tokens"),
        sum(expr("c * (ur - ut)")).as("weight"))
      .select(col(id), col("n_tokens"), col("weight"))
  }
}
