package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus term statistics: per-document distinctive terms (TF-IDF
 * ranking) and corpus-level collocations (top adjacent-token bigrams).
 *
 * The TF-IDF ranking is kept ALL-INTEGER: terms are ordered by
 * (tf DESC, df ASC, token ASC), which is the tf·idf order whenever two
 * terms differ on one factor and don't invert on the other, and —
 * unlike the float score tf·ln(N/df) — is bit-identical across
 * engines, so the result carries a full cross-engine oracle instead
 * of a tolerance check. tf and df are reported so callers can apply
 * any idf curve downstream.
 */
object Terms {

  /**
   * Top-k distinctive terms per document: rank tokens by
   * (tf DESC, df ASC, token ASC) and keep ranks 1..k.
   *
   * Output: (id, rank, token, tf, df).
   *
   * Scale: tf is one partial-agg Exchange on (id, token); df is one
   * more on token over the already-distinct tf rows (ONE row per
   * (doc, token) — never the raw token stream); the idf join is
   * token-keyed with exactly one build row per key (AQE splits the
   * stop-token skew); the rank window partitions by document, whose
   * group size is bounded by the document's own vocabulary.
   */
  def distinctiveTerms(df: DataFrame, id: String, text: String,
                       k: Int): DataFrame = {
    require(k > 0, "k must be > 0")
    val tf = df.select(col(id), explode(TF.tokens(col(text))).as("token"))
      .groupBy(col(id), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(id))
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    tf.join(dfreq, "token")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(id), col("rank"), col("token"), col("tf"), col("df"))
  }

  /**
   * Corpus top-n adjacent-token bigrams (collocation mining), ties
   * broken by bigram text. zip_with over two shifted slices keeps the
   * pairing inside whole-stage codegen; the global top-n plans as
   * TakeOrderedAndProject (per-partition heaps + driver merge of n —
   * never a global sort).
   */
  def topBigrams(df: DataFrame, text: String, n: Int): DataFrame = {
    require(n > 0, "n must be > 0")
    val toks = TF.tokens(col(text))
    df.select(toks.as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(explode(zip_with(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(n)
  }

  /**
   * Integer-quantized BM25 retrieval: top-k corpus documents per probe
   * query (the probe's distinct tokens are the query terms). The
   * standard data-selection / decontamination retrieval step of a
   * training-data pipeline, expressed in the same all-integer
   * discipline as [[distinctiveTerms]] so the ranking is bit-identical
   * across engines (no float tolerance anywhere):
   *
   *   - idf is quantized to floor(log2((N-df+1/2)/(df+1/2))) computed
   *     with integer-only algebra — `length(bin(x)) - 1` is an exact
   *     cross-engine floor-log2 (both Spark and DuckDB render bin()
   *     without leading zeros), and the half-offsets are folded by
   *     doubling: (2N-2df+1) div (2df+1).
   *   - the Robertson tf-saturation tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
   *     with the standard k1=1.2, b=0.75 is cleared of fractions:
   *     avgdl = T/N (T = corpus token count) and a ×100 score scale
   *     give s = (idf_q * tf * 220000) div (1000*tf + 300 + 9*rel),
   *     rel = (100*dl*N) div T — integers end to end.
   *
   * Output: (probe_id, rank, doc_id, score), rank 1..k per probe,
   * ties broken by doc_id.
   *
   * Scale: the corpus side is two wordcount-shaped aggregates (tf on
   * (doc, token), df/dl folds over the ONE-row-per-(doc,token) tf
   * frame — the raw token stream is never re-shuffled). Probes are
   * small by contract (a benchmark / query workload vs a 100 TB
   * corpus — same contract as Dedup.contaminated), so the candidate
   * join is a broadcast of probe terms against the token-bucketed tf
   * frame: work ∝ Σ_term df(term), the document-at-a-time scatter of
   * a search engine, never corpus × probes. idf joins ride the same
   * broadcast (the probe-vocabulary idf slice is ≤ the probe term
   * count); the per-probe top-k is the salted two-stage rank
   * (Skew.groupTopK), so a stopword-heavy probe cannot pin one
   * partition.
   */
  /** Adjacent-token bigram terms (same pairing as [[topBigrams]]);
    * empty for docs under two tokens. Passed to [[bm25TopK]] when the
    * unigram vocabulary is too common to discriminate (phrase
    * retrieval). */
  def bigramTerms(text: Column): Column = {
    val t = TF.tokens(text)
    when(size(t) >= 2,
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
  }

  def bm25TopK(corpus: DataFrame, probes: DataFrame, id: String,
               text: String, k: Int,
               terms: Column => Column = TF.tokens): DataFrame = {
    require(k > 0, "k must be > 0")
    // tf IS the inverted index: four consumers (dl, corpus constants,
    // the probe-vocabulary idf slice, the candidate join) read it, so
    // it is persisted and materialized ONCE — without this the plan
    // re-derives the corpus scan + wordcount per consumer (measured:
    // 14 parquet scans, 0 reused exchanges). Eager materialization
    // also keeps concurrent AQE stages from racing the unmaterialized
    // cache into duplicate recomputes (the round-6 lesson). The
    // caller owns the cache for the duration of its action (dedup
    // family contract — Verify/Bench clearCache between queries).
    val tf = corpus
      .select(col(id).as("doc_id"), explode(terms(col(text))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .persist()
    tf.count()
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    // two corpus scalars (doc count, token count): 1-row broadcast
    val consts = dl.agg(count(lit(1)).as("n"), sum("dl").as("tt"))
    // small by the probe contract; read twice (vocab slice + candidate
    // join broadcasts) — cache so the probe side is derived once
    val probeTerms = probes.select(col(id).as("probe_id"),
      explode(array_distinct(terms(col(text)))).as("tok"))
      .persist()
    // idf only for the probe vocabulary — small by the probe contract
    val idfSlice = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .join(broadcast(probeTerms.select("tok").distinct()), "tok")
      .crossJoin(broadcast(consts))
      .select(col("tok"), expr(bm25IdfSql).as("idf_q"))
    bm25ScoreRank(tf
      .join(broadcast(probeTerms), "tok")
      .join(broadcast(idfSlice), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(consts)), k)
  }

  /** The quantized idf: floor(log2((N−df+1/2)/(df+1/2))) with the
    * half-offsets folded by doubling — shared verbatim by the inline
    * [[bm25TopK]] and the persisted [[TermIndex]] so their scores are
    * structurally identical. Expects columns n and df. */
  private[graft] val bm25IdfSql: String =
    "cast(length(bin((2*n - 2*df + 1) div (2*df + 1) + 1)) - 1 as bigint)"

  /** The quantized relative-length and per-term partial score — shared
    * by [[bm25ScoreRank]] and [[TermIndex]]'s max-score pruned probe so
    * phase-split scoring can never drift from the one-shot kernel. The
    * partial is monotone ↑ in tf and ↓ in dl (for fixed constants), so
    * per-term (max_tf, min_dl) posting stats yield a valid per-posting
    * upper bound by direct substitution. */
  private[graft] val bm25RelSql: String = "(100 * dl * n) div tt"
  private[graft] val bm25PartialSql: String =
    "(idf_q * tf * 220000) div (1000*tf + 300 + 9*rel)"

  /** [[bm25IdfSql]] in driver-side Long arithmetic, operation for
    * operation: exact ops throw on overflow as ANSI mode does, and
    * `toBinaryString` is Spark's `bin` (64 digits for a negative). */
  private[graft] def bm25Idf(n: Long, df: Long): Long = {
    import java.lang.Math.{addExact, multiplyExact, subtractExact}
    val q = addExact(subtractExact(multiplyExact(2L, n),
      multiplyExact(2L, df)), 1L) / addExact(multiplyExact(2L, df), 1L)
    java.lang.Long.toBinaryString(addExact(q, 1L)).length - 1L
  }

  /** [[bm25RelSql]] then [[bm25PartialSql]] in driver-side Long
    * arithmetic, operation for operation (see [[bm25Idf]]). */
  private[graft] def bm25Partial(idfQ: Long, tf: Long, dl: Long, n: Long,
                                 tt: Long): Long = {
    import java.lang.Math.{addExact, multiplyExact}
    val rel = multiplyExact(multiplyExact(100L, dl), n) / tt
    multiplyExact(multiplyExact(idfQ, tf), 220000L) /
      addExact(addExact(multiplyExact(1000L, tf), 300L),
        multiplyExact(9L, rel))
  }

  /** Shared scoring tail: Robertson saturation cleared of fractions,
    * partial-agg per (probe, doc), salted two-stage top-k. Expects
    * columns (probe_id, doc_id, tf, dl, idf_q, n, tt). */
  private[graft] def bm25ScoreRank(cand: DataFrame, k: Int): DataFrame = {
    val scored = cand
      .withColumn("rel", expr(bm25RelSql))
      .withColumn("s", expr(bm25PartialSql))
      .groupBy("probe_id", "doc_id").agg(sum("s").as("score"))
    Skew.groupTopK(scored, Seq("probe_id"),
      Seq(col("score").desc, col("doc_id").asc), k, rankCol = "rank")
      .withColumn("rank", col("rank").cast("long"))
      .select("probe_id", "rank", "doc_id", "score")
  }

  /**
   * Unigram-LM surprisal score per document — the CCNet/C4
   * perplexity-filter shape, quantized to stay integer: each token's
   * surprisal is floor(log2(T / c(w))) (T = corpus token count,
   * c(w) = corpus count of w), an exact cross-engine integer via
   * `length(bin(T div c)) - 1`. A document's mean surprisal
   * (surprisal_sum / n_tokens, computed downstream) separates
   * rare-token gibberish (high) from boilerplate / stopword soup
   * (low) — the two tails a perplexity filter trims.
   *
   * Output: (id, n_tokens, surprisal_sum, surprisal_max).
   *
   * Scale: tf on (doc, token) is one wordcount Exchange; c(w) is a
   * fold over the one-row-per-(doc,token) tf frame; the score join is
   * token-keyed on that same deduplicated frame (work ∝ distinct
   * (doc,token) pairs, stopword skew handled by AQE), and the per-doc
   * roll-up partitions by document. No float ever materializes.
   */
  def unigramSurprisal(df: DataFrame, id: String, text: String): DataFrame = {
    // same contract as bm25TopK: the deduplicated (doc, token, tf)
    // frame feeds the count fold AND the score join — one scan, not
    // one per consumer
    val tf = df
      .select(col(id).as("__id"), explode(TF.tokens(col(text))).as("tok"))
      .groupBy("__id", "tok").agg(count(lit(1)).as("tf"))
      .persist()
    tf.count()
    val cnts = tf.groupBy("tok").agg(sum("tf").as("c"))
    val consts = cnts.agg(sum("c").as("tt"))
    tf.join(cnts, "tok")
      .crossJoin(broadcast(consts))
      .withColumn("u", expr("cast(length(bin(tt div c)) - 1 as bigint)"))
      .groupBy("__id")
      .agg(sum("tf").as("n_tokens"),
        sum(expr("tf * u")).as("surprisal_sum"),
        max("u").as("surprisal_max"))
      .withColumnRenamed("__id", id)
  }

  /**
   * Conditional bigram-LM surprisal — the Markov sibling of
   * [[unigramSurprisal]] and the closest integer-exact analogue of a
   * perplexity filter: each position's surprisal is
   * floor(log2(ctx(w1) / c(w1 w2))) where c is the corpus bigram
   * count and ctx(w1) = Σ_z c(w1 z) is w1's left-context mass, i.e.
   * the quantized -log2 of the ML estimate P(w2|w1). Documents whose
   * transitions are corpus-typical score low; improbable transitions
   * (shuffled text, gibberish) score high.
   *
   * Output: (id, n_bigrams, surprisal_sum, surprisal_max); docs with
   * under two tokens carry no transitions and emit no row.
   *
   * Scale: identical profile to unigramSurprisal — the persisted
   * (doc, bigram, tf) frame feeds the bigram-count fold, the
   * context fold (a second small aggregate OVER the counts, not the
   * corpus), and the score join; everything downstream of the one
   * wordcount Exchange is count-sized.
   */
  def bigramSurprisal(df: DataFrame, id: String, text: String): DataFrame = {
    val tf = df
      .select(col(id).as("__id"), explode(bigramTerms(col(text))).as("bg"))
      .groupBy("__id", "bg").agg(count(lit(1)).as("tf"))
      .persist()
    tf.count()
    val bgc = tf.groupBy("bg").agg(sum("tf").as("c"))
    // left-context mass: fold of the (already tiny) bigram-count
    // frame, keyed on the first token (tokens never contain spaces)
    val ctx = bgc.withColumn("w1", expr("split_part(bg, ' ', 1)"))
      .groupBy("w1").agg(sum("c").as("cc"))
    tf.join(bgc, "bg")
      .withColumn("w1", expr("split_part(bg, ' ', 1)"))
      .join(ctx, "w1")
      .withColumn("u", expr("cast(length(bin(cc div c)) - 1 as bigint)"))
      .groupBy("__id")
      .agg(sum("tf").as("n_bigrams"),
        sum(expr("tf * u")).as("surprisal_sum"),
        max("u").as("surprisal_max"))
      .withColumnRenamed("__id", id)
  }

  /**
   * CCNet-style perplexity bucketing: label every document `head` /
   * `middle` / `tail` by where its mean bigram surprisal falls within
   * its LANGUAGE's distribution (CCNet buckets each language shard by
   * Kneser–Ney perplexity terciles; here the LM is [[bigramSurprisal]]'s
   * quantized corpus bigram model, so the whole pipeline stays
   * cross-engine exact). `head` = most corpus-typical third.
   *
   * The per-doc score is the integer `ppl_q = surprisal_sum * scale
   * div n_bigrams` (quantized mean surprisal — the log form of
   * perplexity). Cutoffs are the exact 1/3 and 2/3 percentiles of
   * `ppl_q` per language; ties bucket downward (toward `head`),
   * matching q_quantile_bins' convention. Docs with fewer than two
   * tokens carry no transitions and emit no row.
   *
   * Output: (id, langOut, ppl_q, bucket).
   *
   * Scale: the corpus-sized work is exactly [[bigramSurprisal]]'s one
   * wordcount Exchange; everything after is doc-sized and narrow. The
   * cutoff aggregate folds the doc-level frame down to ONE ROW PER
   * LANGUAGE (partial+final, no sort), broadcast back over the docs —
   * there is NO per-language global sort, which is what an ntile
   * formulation would need and what dies first at 100 TB.
   */
  def surprisalBuckets(df: DataFrame, id: String, text: String,
                       lang: String, scale: Long = 1000L): DataFrame = {
    val s = bigramSurprisal(df, id, text)
    val scored = s
      .join(df.select(col(id), col(lang)), Seq(id))
      .withColumn("ppl_q", expr(s"surprisal_sum * $scale div n_bigrams"))
    val cuts = scored.groupBy(col(lang))
      .agg(percentile(col("ppl_q"),
        array(lit(1.0 / 3), lit(2.0 / 3))).as("thr"))
    scored.join(broadcast(cuts), Seq(lang))
      .select(col(id), col(lang), col("ppl_q"),
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          (size(filter(col("thr"),
            t => col("ppl_q").cast("double") > t)) + 1)).as("bucket"))
  }

  /**
   * Quantized multinomial Naive Bayes — the fastText-shaped
   * model-based labeler (language ID, quality tiers, topic routing)
   * trained and applied entirely inside the engine: class-conditional
   * unigram LMs with Laplace smoothing, every log quantized to the
   * integer floor(log2(·)) via the `length(bin(x)) − 1` identity the
   * surprisal family uses, so training AND inference are cross-engine
   * exact — a classifier you can put behind a full oracle instead of a
   * tolerance check.
   *
   * Scoring: class c's negated log-likelihood for doc d is
   *   Σ_tok tf_d(tok) · floor(log2((T_c + V) div (n_{c,tok} + 1)))
   *     + floor(log2(N div N_c))
   * (T_c = class token mass, V = train vocab size, N_c/N = doc
   * priors); the prediction is the (score, class)-lexicographic
   * minimum, a deterministic tie-break both engines replicate.
   *
   * Scale: training is ONE wordcount Exchange on (class, token) over
   * the train corpus (+ two count-sized folds for T_c and priors, one
   * broadcast scalar for V); inference explodes test tokens once,
   * cross-joins the CONSTANT class list (|classes| rows, broadcast),
   * left-joins the count-sized class-token table, and partial-aggs to
   * (doc, class) — test docs never shuffle their text, unseen tokens
   * take the smoothed default via coalesce, zero-token docs emit no
   * row (mirrored by the oracle's wordcount).
   *
   * @param cls     class label column on `train`
   * @param classes the label set to train on (rows outside it ignored)
   * @return (id, pred)
   */
  def nbClassify(train: DataFrame, test: DataFrame, id: String,
                 text: String, cls: Column,
                 classes: Seq[String]): DataFrame = {
    require(classes.nonEmpty, "need at least one class")
    val spark = train.sparkSession
    import spark.implicits._
    val trainTok = train.filter(cls.isin(classes: _*))
      .select(cls.as("cl"), explode(TF.tokens(col(text))).as("tok"))
    // class-conditional counts: the model — count-sized from here on
    val cnt = trainTok.groupBy("cl", "tok").agg(count(lit(1)).as("n"))
      .persist()
    cnt.count()
    val tot = cnt.groupBy("cl").agg(sum("n").as("t"))
    val vocab = cnt.select("tok").distinct().agg(count(lit(1)).as("v"))
    // quantized class priors: floor(log2(N div N_c))
    val nc = train.filter(cls.isin(classes: _*))
      .groupBy(cls.as("cl")).agg(count(lit(1)).as("ndocs"))
    val prior = nc.crossJoin(broadcast(nc.agg(sum("ndocs").as("nall"))))
      .select(col("cl"),
        expr("cast(length(bin(nall div ndocs)) - 1 as bigint)").as("pu"))
    val clFrame = broadcast(classes.toDF("cl"))
    val tf = test
      .select(col(id).as("__id"), explode(TF.tokens(col(text))).as("tok"))
      .groupBy("__id", "tok").agg(count(lit(1)).as("tf"))
    val scores = tf.crossJoin(clFrame)
      .join(cnt, Seq("cl", "tok"), "left")
      .join(tot, Seq("cl"))
      .crossJoin(broadcast(vocab))
      .withColumn("u", expr(
        "cast(length(bin((t + v) div (coalesce(n, 0L) + 1))) - 1 as bigint)"))
      .groupBy("__id", "cl").agg(sum(expr("tf * u")).as("ll"))
      .join(broadcast(prior), Seq("cl"))
      .withColumn("score", col("ll") + col("pu"))
    scores.groupBy("__id")
      .agg(min_by(col("cl"), struct(col("score"), col("cl"))).as("pred"))
      .withColumnRenamed("__id", id)
  }
}
