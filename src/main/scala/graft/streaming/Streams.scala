package graft.streaming

import graft.io.ParquetFooters
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/**
 * Streaming surface — an EXTENSION beyond the reference, which is batch
 * only (SURVEY §1.6): Structured Streaming versions of the engine's
 * aggregation shapes, so the same pipelines run incrementally with
 * watermarked event-time state.
 */
object Streams {

  /** Open the events table as a stream (batch parquet driven through
    * the streaming engine — the local test harness; in production the
    * source is kafka/files with identical downstream code). */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = ParquetFooters.read(spark, s"$sfDir/events.parquet").schema
    // glob form: FileStreamSource requires a directory-rooted pattern,
    // not a bare file path (basePath must be a directory).
    val raw = spark.readStream.schema(schema)
      .parquet(s"$sfDir/events.parque[t]")
    // same type-driven ts normalization as Tables.load
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Windowed per-type counts/sums with late-data handling: the
    * streaming analog of the q_events_daily rollup. */
  def windowedTypeCounts(events: DataFrame,
                         window_ : String = "1 hour",
                         watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Windowed DISTINCT-count rollup via the mergeable deterministic
    * HLL ([[graft.operators.Hll.HllAggregator]]): per-window state is
    * the m-byte register array, NOT the key set — `count(DISTINCT)`
    * is illegal in streaming and an exact-dedup pre-stage would hold
    * every key in the state store for the watermark horizon. The
    * single-aggregation form is what makes this streaming-legal, and
    * its estimates are BIT-IDENTICAL to the batch column path
    * (PlanSpec), so a daily batch recount agrees with the live stream
    * to the last ulp. */
  def windowedDistinct(events: DataFrame, keyCol: String,
                       window_ : String = "1 hour",
                       watermark: String = "2 hours",
                       b: Int = 12): DataFrame = {
    val hllU = udaf(graft.operators.Hll.HllAggregator(b))
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(hllU(col(keyCol).cast("string")).as("approx_distinct"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("approx_distinct"))
  }

  /**
   * Gap-based sessionization via the built-in session_window — one
   * declarative form that runs identically in batch and streaming
   * (streaming requires the watermark for state eviction). State scales
   * with open sessions per key, not history.
   */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermark: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(startUs: Long, lastUs: Long, n: Long, sum: Double)
  /** start_us = epoch micros of the first event (exact; Timestamp
    * round-trips through ms and would silently truncate). */
  case class Session(user_id: Long, start_us: Long,
                     n_events: Long, sum_value: Double)

  /**
   * Custom-state sessionization with flatMapGroupsWithState — the
   * KeyValueGroupedDataset custom-state surface (arbitrary per-key
   * state machines beyond what session_window expresses). Emits a
   * session when the event-time timeout fires (watermark passed
   * last-event + gap). Events within one group arrive unordered
   * across micro-batches only if late beyond the watermark — which the
   * watermark excludes — so sorting each batch's group slice suffices.
   */
  def sessionizeCustomState(events: DataFrame, gapMinutes: Long,
                            watermark: String = "0 seconds"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.selectExpr("user_id", "ts", "value")
      .withWatermark("ts", watermark)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[List[SessionState]]) =>
          // exact micros: integral seconds from getTime, fraction from nanos
          def us(t: java.sql.Timestamp): Long =
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
          def toSession(s: SessionState): Session =
            Session(user, s.startUs, s.n, s.sum)
          if (state.hasTimedOut) {
            // close every session whose gap window the watermark passed
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val (closed, open) = state.get.partition(_.lastUs + gapUs <= wmUs)
            if (open.isEmpty) state.remove() else state.update(open)
            if (open.nonEmpty)
              state.setTimeoutTimestamp(open.map(_.lastUs).min / 1000L + gapMinutes * 60000L)
            closed.sortBy(_.startUs).map(toSession).iterator
          } else {
            // fold this batch's events into gap-separated sessions, then
            // merge with prior state by interval overlap (handles a late
            // event bridging two previously separate sessions).
            val fromEvents = it.toSeq.sortBy(e => us(e.ts))
              .foldLeft(List.empty[SessionState]) {
                case (Nil, e) => SessionState(us(e.ts), us(e.ts), 1, e.value) :: Nil
                case (h :: t, e) =>
                  val eUs = us(e.ts)
                  if (eUs - h.lastUs <= gapUs)
                    h.copy(lastUs = math.max(h.lastUs, eUs), n = h.n + 1,
                      sum = h.sum + e.value) :: t
                  else SessionState(eUs, eUs, 1, e.value) :: h :: t
              }
            val merged = (state.getOption.getOrElse(Nil) ++ fromEvents)
              .sortBy(_.startUs)
              .foldLeft(List.empty[SessionState]) {
                case (h :: t, s) if s.startUs <= h.lastUs + gapUs =>
                  SessionState(h.startUs, math.max(h.lastUs, s.lastUs),
                    h.n + s.n, h.sum + s.sum) :: t
                case (acc, s) => s :: acc
              }.reverse
            state.update(merged)
            state.setTimeoutTimestamp(merged.map(_.lastUs).min / 1000L + gapMinutes * 60000L)
            Iterator.empty
          }
      }
  }

  /**
   * Streaming exact dedup — the incremental analog of `Dedup.exact`:
   * the first arrival per key (e.g. a content digest) passes,
   * subsequent duplicates are dropped. `dropDuplicatesWithinWatermark`
   * keeps state ONLY for the watermark horizon, so state is bounded by
   * the horizon × key arrival rate, not by stream history — the only
   * formulation that survives an unbounded stream (plain
   * `dropDuplicates` on a stream retains every key forever).
   */
  def dedupStream(df: DataFrame, keys: Seq[String], tsCol: String,
                  watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /**
   * Streaming NEAR-dup detection — the incremental analog of
   * `Dedup.minhashDupPairs` for continuous ingest: every micro-batch
   * is deduped against the accumulated corpus (and within itself) via
   * `Dedup.minhashIncremental` (one-sided LSH probe — per-batch work
   * scales with the batch, never corpus²), then appended to the
   * corpus store. `foreachBatch` is the right surface: the LSH
   * bucket join + exact-Jaccard verify are batch joins the streaming
   * engine cannot express natively, and foreachBatch gives each
   * micro-batch transactional access to the corpus-so-far.
   *
   * Invariant (asserted in StreamingSpec): the union of per-batch
   * pair sets over any batch split equals the batch
   * `minhashDupPairs` of the full corpus — every pair is emitted in
   * the batch where its later endpoint arrives, exactly once.
   *
   * Caveat: the shingle df cap is computed against the corpus-so-far,
   * so a shingle crossing the cap mid-stream affects only later
   * batches; a production deployment maintains the stop-shingle list
   * from periodic full-corpus snapshots (same drift class as the
   * reference's CachePartial nondeterminism caveat, cache.go:56-61).
   */
  def nearDupStream(docs: DataFrame, id: String, text: String,
                    corpusDir: String,
                    k: Int = 3, numPerms: Int = 64, bandRows: Int = 2,
                    minJ: Double = 0.5, maxShingleDf: Int = 100)
                   (onPairs: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val slim = batch.select(col(id), col(text))
        val existing =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(corpusDir)))
            ParquetFooters.read(spark, corpusDir)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], slim.schema)
        val p = graft.operators.Dedup.minhashIncremental(
          existing, slim, id, text, k, numPerms, bandRows, minJ, maxShingleDf)
        onPairs(p, batchId)
        slim.write.mode("append").parquet(corpusDir)
      }
      .start()

  /**
   * [[nearDupStream]] against a persisted [[graft.operators.MinhashIndex]]
   * — the steady-state streaming form: where [[nearDupStream]] re-reads
   * the accumulated corpus TEXT and recomputes every signature each
   * micro-batch (correct, but per-batch work grows with the corpus),
   * this variant bootstraps an empty index on the first batch and then
   * `ingest`s each micro-batch: per-batch compute stays batch-sized,
   * corpus state lives in the index's versioned tables, and pairs are
   * materialized against version v BEFORE v+1 commits (ingest's
   * crash-consistency contract). Emits the identical per-batch pair
   * sets (StreamingSpec).
   *
   * Replay (README "Streaming replay contract"): one commit per batch.
   * A redelivered batch re-probes the version its ingest ran against,
   * read-only ([[graft.operators.MinhashIndex.replayDupPairsAt]], which
   * also releases the probe's caches), so `retainVersions` keeps that
   * prior version.
   */
  def nearDupStreamIndexed(docs: DataFrame, id: String, text: String,
                           indexDir: String,
                           checkpointLocation: String,
                           cfg: graft.operators.MinhashIndex.Config =
                             graft.operators.MinhashIndex.Config(),
                           retainVersions: Int = 2)
                          (onPairs: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ReplayPin.start(docs, checkpointLocation, retainVersions) { (batch, batchId) =>
      nearDupIndexedBatch(batch, batchId, id, text, indexDir, cfg, retainVersions)(onPairs)
    }

  /** One micro-batch of [[nearDupStreamIndexed]] — factored out so
    * fault-injection tests can drive the exact production code path
    * (crash inside it, then replay it) without a streaming harness. */
  private[graft] def nearDupIndexedBatch(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
      id: String, text: String, indexDir: String,
      cfg: graft.operators.MinhashIndex.Config,
      retainVersions: Int)(onPairs: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.MinhashIndex
    val spark = batch.sparkSession
    val slim = batch.select(col(id), col(text))
    // bootstrap: an index over the EMPTY corpus, so the first
    // ingest's one-sided probe yields exactly the batch-internal
    // pairs (every pair touches the batch vacuously)
    if (!MinhashIndex.exists(spark, indexDir))
      MinhashIndex.build(spark, slim.limit(0), id, text, indexDir, cfg)
    val b = ReplayPin.pin(spark, indexDir, batchId)(
      Seq(MinhashIndex.latestVersion(spark, indexDir)))(onPairs)
    if (b.landed) b.deliver(MinhashIndex.replayDupPairsAt(
      spark, indexDir, b.committed() - 1, slim, id, text, cfg))
    else {
      b.deliver(MinhashIndex.ingest(spark, indexDir, slim, id, text, cfg))
      MinhashIndex.gc(spark, indexDir, retainVersions)
    }
  }

  /**
   * Streaming ANN ingest against a persisted [[graft.operators.IvfIndex]]
   * — the embedding-side sibling of [[nearDupStreamIndexed]], closing
   * the continuous-embedding-pipeline gap (the obvious consumer of an
   * incremental ANN index had no replay-safe entry point). Each
   * micro-batch of vectors is appended to the index and every batch
   * vector gets its top-k neighbors AS OF ARRIVAL — over the corpus so
   * far INCLUDING the batch itself (batch-internal neighbors count;
   * self is excluded by [[graft.operators.IvfIndex.topKAt]]).
   *
   * Replay (README "Streaming replay contract"): one commit per batch,
   * even for an EMPTY batch, which keeps the pairing aligned through
   * quiet periods; the emit reads the batch's own version. Centroids
   * need data, so there is no empty-index bootstrap: the stream pins
   * base 0 and the first NON-EMPTY batch builds v1 (a crash between
   * marker and build re-runs the build, which overwrites only its own
   * uncommitted segment). Empty batches before it emit nothing; they
   * complete their checkpoint before the bootstrap batch starts, so
   * they are never replayed across it. Each commit's gc also reaps
   * segments stranded by size/drift compactions as their referencing
   * versions age out.
   */
  def annStreamIndexed(vectors: DataFrame, id: String, vec: String,
                       indexDir: String,
                       checkpointLocation: String,
                       cfg: graft.operators.IvfIndex.Config,
                       k: Int = 10, nProbe: Int = 4,
                       retainVersions: Int = 2)
                      (onTopK: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ReplayPin.start(vectors, checkpointLocation, retainVersions) { (batch, batchId) =>
      annIndexedBatch(batch, batchId, id, vec, indexDir, cfg, k, nProbe,
        retainVersions)(onTopK)
    }

  /** One micro-batch of [[annStreamIndexed]] — factored out so
    * fault-injection tests can drive the exact production code path
    * (crash inside it, then replay it) without a streaming harness. */
  private[graft] def annIndexedBatch(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
      id: String, vec: String, indexDir: String,
      cfg: graft.operators.IvfIndex.Config, k: Int, nProbe: Int,
      retainVersions: Int)(onTopK: (DataFrame, Long) => Unit): Unit = {
    val slim = batch.select(col(id), col(vec))
    ivfBatch(slim, batchId, id, vec, indexDir, cfg, k, nProbe, retainVersions)(
      graft.operators.IvfIndex.append(batch.sparkSession, indexDir, slim, id, vec, cfg))(onTopK)
  }

  /** The IvfIndex wrappers' micro-batch: `rows` (id, vec) commit as the
    * build of v1 on the first non-empty batch and through `commit`
    * after it, and get their top-k at the batch's own version. */
  private def ivfBatch(rows: DataFrame, batchId: Long, id: String, vec: String,
                       indexDir: String, cfg: graft.operators.IvfIndex.Config,
                       k: Int, nProbe: Int, retainVersions: Int)(commit: => Unit)
                      (onTopK: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.IvfIndex
    val spark = rows.sparkSession
    if (!IvfIndex.exists(spark, indexDir) && !ReplayPin.pinned(spark, indexDir) &&
        rows.isEmpty) {
      // quiet pre-bootstrap batch: nothing to train on, nothing to emit
      onTopK(rows.limit(0)
        .select(col(id).as("query_id"), lit(1).as("rnk"),
          col(id).as("neighbor_id"), lit(0.0).as("cos")), batchId)
      return
    }
    val b = ReplayPin.pin(spark, indexDir, batchId)(Seq(
      if (IvfIndex.exists(spark, indexDir)) IvfIndex.latestVersion(spark, indexDir)
      else 0))(onTopK)
    if (!b.landed) {
      if (b.committed() == 1) IvfIndex.build(spark, rows, id, vec, indexDir, cfg)
      else commit
    }
    b.emit(IvfIndex.topKAt(spark, indexDir, b.committed(), rows, id, vec, k, nProbe))
    if (!b.landed) IvfIndex.gc(spark, indexDir, retainVersions)
  }

  /**
   * Streaming CDC ingest for the IVF index: each micro-batch carries
   * (op, id, vec) rows — `opCol` ∈ {"upsert", "delete"} — applied in
   * ONE commit per batch ([[graft.operators.IvfIndex.applyCdc]]: a
   * single tombstone masks every strictly-older copy of both sets, the
   * new segment carries only the upserted rows), under
   * [[annStreamIndexed]]'s replay and bootstrap. `onTopK` receives the
   * batch's UPSERTED vectors' top-k at the batch's own version. Deletes
   * emit nothing; their effect shows in every later probe. Deletes
   * arriving before the index bootstraps refer to nothing and are
   * dropped with the quiet batch.
   */
  def cdcStreamIndexed(events: DataFrame, opCol: String, id: String,
                       vec: String, indexDir: String,
                       checkpointLocation: String,
                       cfg: graft.operators.IvfIndex.Config,
                       k: Int = 10, nProbe: Int = 4,
                       retainVersions: Int = 2)
                      (onTopK: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ReplayPin.start(events, checkpointLocation, retainVersions) { (batch, batchId) =>
      cdcIndexedBatch(batch, batchId, opCol, id, vec, indexDir, cfg, k,
        nProbe, retainVersions)(onTopK)
    }

  /** One micro-batch of [[cdcStreamIndexed]] — factored out for
    * fault-injection tests, like [[annIndexedBatch]]. */
  private[graft] def cdcIndexedBatch(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
      opCol: String, id: String, vec: String, indexDir: String,
      cfg: graft.operators.IvfIndex.Config, k: Int, nProbe: Int,
      retainVersions: Int)(onTopK: (DataFrame, Long) => Unit): Unit = {
    val ups = batch.filter(col(opCol) === "upsert").select(col(id), col(vec))
    val dels = batch.filter(col(opCol) === "delete").select(col(id))
    ivfBatch(ups, batchId, id, vec, indexDir, cfg, k, nProbe, retainVersions)(
      graft.operators.IvfIndex.applyCdc(batch.sparkSession, indexDir, ups, dels, id,
        vec, cfg))(onTopK)
  }

  /**
   * Streaming ingest for the persisted BM25 index — the retrieval
   * sibling of [[annStreamIndexed]], with its replay and bootstrap:
   * each micro-batch of documents appends ONE index version, and
   * `onTopK` receives the batch docs' bm25 top-k against the corpus as
   * of arrival (corpus-so-far ∪ batch), read at the batch's own
   * version, so a redelivered batch re-emits byte-identical results.
   */
  def retrievalStreamIndexed(docs: DataFrame, id: String, text: String,
                             indexDir: String,
                             checkpointLocation: String,
                             cfg: graft.operators.TermIndex.Config,
                             k: Int = 5,
                             terms: org.apache.spark.sql.Column =>
                               org.apache.spark.sql.Column =
                               graft.functions.TextFunctions.tokens,
                             retainVersions: Int = 2)
                            (onTopK: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ReplayPin.start(docs, checkpointLocation, retainVersions) { (batch, batchId) =>
      retrievalIndexedBatch(batch, batchId, id, text, indexDir, cfg, k,
        terms, retainVersions)(onTopK)
    }

  /** One micro-batch of [[retrievalStreamIndexed]] — factored out so
    * fault-injection tests can drive the exact production code path
    * (crash inside it, then replay it) without a streaming harness. */
  private[graft] def retrievalIndexedBatch(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
      id: String, text: String, indexDir: String,
      cfg: graft.operators.TermIndex.Config, k: Int,
      terms: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      retainVersions: Int)(onTopK: (DataFrame, Long) => Unit): Unit = {
    val slim = batch.select(col(id), col(text))
    termBatch(slim, batchId, id, text, indexDir, cfg, k, terms, retainVersions)(
      graft.operators.TermIndex.append(batch.sparkSession, indexDir, slim, id, text,
        cfg, terms))(onTopK)
  }

  /** The TermIndex wrappers' micro-batch: `rows` (id, text) commit as
    * the build of v1 on the first non-empty batch and through `commit`
    * after it, and get their bm25 top-k at the batch's own version. */
  private def termBatch(rows: DataFrame, batchId: Long, id: String, text: String,
                        indexDir: String, cfg: graft.operators.TermIndex.Config,
                        k: Int,
                        terms: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                        retainVersions: Int)(commit: => Unit)
                       (onTopK: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.TermIndex
    val spark = rows.sparkSession
    if (!TermIndex.exists(spark, indexDir) && !ReplayPin.pinned(spark, indexDir) &&
        rows.isEmpty) {
      onTopK(rows.limit(0) // quiet pre-bootstrap batch
        .select(col(id).cast("long").as("probe_id"), lit(1L).as("rank"),
          lit(0L).as("doc_id"), lit(0L).as("score")), batchId)
      return
    }
    val b = ReplayPin.pin(spark, indexDir, batchId)(Seq(
      if (TermIndex.exists(spark, indexDir)) TermIndex.latestVersion(spark, indexDir)
      else 0))(onTopK)
    if (!b.landed) {
      if (b.committed() == 1) TermIndex.build(spark, rows, id, text, indexDir, cfg, terms)
      else commit
    }
    // the emit probe is a SELF-PROBE: the batch's own documents against
    // the corpus — document-shaped by nature, so under the default
    // probe-cost gate any corpus with overlapping vocabulary would
    // price above maxCandidateFraction and throw DETERMINISTICALLY on
    // every replay: a permanent poison-pill batch. The emit is a
    // deliberate exact batch-sized run (the Config doc's own carve-out),
    // so it always runs ungated; the caller's gate still applies to the
    // index's ad-hoc probe traffic.
    val emitCfg = cfg.copy(maxCandidateFraction = TermIndex.ExactUnbounded)
    b.emit(TermIndex.topKAt(spark, indexDir, b.committed(), rows, id, text, k,
      emitCfg, terms))
    if (!b.landed) TermIndex.gc(spark, indexDir, retainVersions)
  }

  /**
   * Streaming CDC ingest for the BM25 index — the retrieval sibling of
   * [[cdcStreamIndexed]]: micro-batches of (op, id, text) rows,
   * op ∈ {"upsert", "delete"}, applied in ONE commit per batch
   * ([[graft.operators.TermIndex.applyCdc]] — BM25 stays exact over the
   * resolved corpus), under [[retrievalStreamIndexed]]'s replay and
   * bootstrap. `onTopK` receives the batch's UPSERTED docs' top-k at
   * the batch's own version; pre-bootstrap deletes are dropped with the
   * quiet batch.
   */
  def cdcRetrievalStreamIndexed(events: DataFrame, opCol: String,
                                id: String, text: String,
                                indexDir: String,
                                checkpointLocation: String,
                                cfg: graft.operators.TermIndex.Config,
                                k: Int = 5,
                                terms: org.apache.spark.sql.Column =>
                                  org.apache.spark.sql.Column =
                                  graft.functions.TextFunctions.tokens,
                                retainVersions: Int = 2)
                               (onTopK: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ReplayPin.start(events, checkpointLocation, retainVersions) { (batch, batchId) =>
      cdcRetrievalBatch(batch, batchId, opCol, id, text, indexDir, cfg,
        k, terms, retainVersions)(onTopK)
    }

  /** One micro-batch of [[cdcRetrievalStreamIndexed]] — factored out
    * for fault-injection tests, like [[retrievalIndexedBatch]]. */
  private[graft] def cdcRetrievalBatch(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
      opCol: String, id: String, text: String, indexDir: String,
      cfg: graft.operators.TermIndex.Config, k: Int,
      terms: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      retainVersions: Int)(onTopK: (DataFrame, Long) => Unit): Unit = {
    val ups = batch.filter(col(opCol) === "upsert").select(col(id), col(text))
    val dels = batch.filter(col(opCol) === "delete").select(col(id))
    termBatch(ups, batchId, id, text, indexDir, cfg, k, terms, retainVersions)(
      graft.operators.TermIndex.applyCdc(batch.sparkSession, indexDir, ups, dels, id,
        text, cfg, terms))(onTopK)
  }

  /**
   * Streaming CDC ingest for the near-dup
   * [[graft.operators.MinhashIndex]] — the third face of
   * [[cdcStreamIndexed]]/[[cdcRetrievalStreamIndexed]]: micro-batches
   * of (op, id, text) rows, op ∈ {"upsert", "delete"}. Each batch is
   * TWO commits — a cheap tombstone delete covering the deleted AND
   * replaced ids ([[graft.operators.MinhashIndex.deleteFromIndex]]:
   * id-list + batch-sized corrections, never a corpus rewrite), then
   * an ingest of the upserted texts whose append folds the layer
   * physically and emits the near-dup pairs over the RESOLVED corpus.
   * An id in both sets resolves delete-wins (dropped from the
   * upserts), matching the sibling applyCdc contract.
   *
   * Replay (README "Streaming replay contract") therefore has stride 2:
   * batch b owns versions `base + 2(b − firstB) + {1, 2}`. A torn
   * delivery (delete committed, ingest not) runs the ingest alone:
   * tombstoning the same ids again would be a no-op by construction.
   * A redelivered batch re-probes its delete version read-only, which
   * references its base, so `retainVersions` is at least 3;
   * [[graft.operators.MinhashIndex.gc]] keeps that base automatically.
   */
  def cdcNearDupStream(events: DataFrame, opCol: String, id: String,
                       text: String, indexDir: String,
                       checkpointLocation: String,
                       cfg: graft.operators.MinhashIndex.Config =
                         graft.operators.MinhashIndex.Config(),
                       retainVersions: Int = 3)
                      (onPairs: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ReplayPin.start(events, checkpointLocation, retainVersions, minRetain = 3) {
      (batch, batchId) =>
        cdcNearDupBatch(batch, batchId, opCol, id, text, indexDir, cfg,
          retainVersions)(onPairs)
    }

  /** One micro-batch of [[cdcNearDupStream]] — factored out for
    * fault-injection tests, like its siblings. */
  private[graft] def cdcNearDupBatch(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
      opCol: String, id: String, text: String, indexDir: String,
      cfg: graft.operators.MinhashIndex.Config,
      retainVersions: Int)(onPairs: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.MinhashIndex
    val spark = batch.sparkSession
    val dels = batch.filter(col(opCol) === "delete").select(col(id))
    // delete-wins on same-batch conflict, like the sibling applyCdc
    val ups = batch.filter(col(opCol) === "upsert").select(col(id), col(text))
      .join(org.apache.spark.sql.functions.broadcast(dels), Seq(id),
        "left_anti")
    if (!MinhashIndex.exists(spark, indexDir))
      MinhashIndex.build(spark, ups.limit(0), id, text, indexDir, cfg)
    val b = ReplayPin.pin(spark, indexDir, batchId, stride = 2)(
      Seq(MinhashIndex.latestVersion(spark, indexDir)))(onPairs)
    val delVer = b.committed() - 1 // the tombstone commit; the ingest's is next
    if (b.landed) // re-probe the version the ingest ran against
      b.deliver(MinhashIndex.replayDupPairsAt(spark, indexDir, delVer, ups, id,
        text, cfg))
    else {
      if (b.landing == Seq(ReplayPin.Fresh)) {
        // the tombstone must cover replaced ids too — old copies of an
        // upserted doc stop pairing before the new text ingests
        val got = MinhashIndex.deleteFromIndex(spark, indexDir,
          dels.unionByName(ups.select(col(id))), id, cfg)
        require(got == delVer, s"delete committed $got, expected $delVer")
      }
      b.deliver(MinhashIndex.ingest(spark, indexDir, ups, id, text, cfg))
      MinhashIndex.gc(spark, indexDir, retainVersions)
    }
  }

  /**
   * Watermarked STREAM-STREAM interval join — the attribution shape
   * ("every right event for the same key within `within` AFTER the
   * left event": view→click, impression→conversion, doc→late-arriving
   * label). A stream-stream join is unbounded-state unless BOTH sides
   * carry a watermark AND the join condition bounds event time; with
   * them the state store holds a left row only until the watermark
   * passes leftTs + within and a right row until it passes rightTs —
   * state is (watermark horizon + within) × arrival rate, never stream
   * history, the only formulation that survives an unbounded stream.
   *
   * joinType "inner" emits matches as both sides arrive; "leftOuter"
   * additionally emits each unmatched left row with NULL right columns
   * once the watermark PROVES no match can still arrive — so outer
   * rows near the stream's current head stay pending until event time
   * advances past their window (drive a later event through in tests).
   *
   * Column contract: output = left columns ++ right columns, where any
   * right name colliding with a left name is prefixed `r_` and the
   * right key column is dropped (it equals the left's by the join).
   * Batch frames run the identical code (withWatermark is a no-op in
   * batch), so batch/stream parity is the usual one-plan property.
   */
  def intervalJoinStream(left: DataFrame, right: DataFrame, key: String,
                         leftTs: String, rightTs: String,
                         within: String,
                         watermark: String = "0 seconds",
                         joinType: String = "inner"): DataFrame = {
    val clash = (right.columns.toSet - key).intersect(left.columns.toSet)
    val renamed = clash.foldLeft(right) { (df, c) =>
      df.withColumnRenamed(c, s"r_$c")
    }.withColumnRenamed(key, "__rkey")
    val rTs = if (clash.contains(rightTs)) s"r_$rightTs" else rightTs
    val l = left.withWatermark(leftTs, watermark)
    val r = renamed.withWatermark(rTs, watermark)
    val cond = col(key) === col("__rkey") &&
      col(rTs) >= col(leftTs) &&
      col(rTs) <= col(leftTs) + expr(s"INTERVAL $within")
    l.join(r, cond, joinType).drop("__rkey")
  }

  /**
   * Streaming EXACT dedup against a persisted
   * [[graft.operators.DigestIndex]] — the unbounded-history form of
   * [[dedupStream]]: `dropDuplicatesWithinWatermark` forgets keys once
   * the watermark passes, so byte-identical re-submissions a week
   * apart slip through; the digest index holds the corpus digest set
   * for its whole lifetime at batch-sized per-commit cost. Each
   * micro-batch emits its `(id, dup_of)` pairs AS OF ARRIVAL
   * ([[graft.operators.DigestIndex.dupPairsAt]] semantics — indexed
   * canonical beats batch ids, within-batch min id wins the rest) and
   * folds its novel canonicals into the index in one committed
   * version.
   *
   * Replay (README "Streaming replay contract"): one commit per batch,
   * quiet all-dup batches included, over an empty index bootstrapped
   * on first contact. A redelivered batch re-emits read-only by
   * probing the PRE-ingest version (`dupPairsAt`), exactly what its
   * original ingest computed.
   */
  def exactDedupStreamIndexed(docs: DataFrame, id: String, text: String,
                              indexDir: String,
                              checkpointLocation: String,
                              cfg: graft.operators.DigestIndex.Config =
                                graft.operators.DigestIndex.Config(),
                              retainVersions: Int = 2)
                             (onPairs: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ReplayPin.start(docs, checkpointLocation, retainVersions) { (batch, batchId) =>
      exactDedupIndexedBatch(batch, batchId, id, text, indexDir, cfg,
        retainVersions)(onPairs)
    }

  /** One micro-batch of [[exactDedupStreamIndexed]] — factored out so
    * fault-injection tests can drive the exact production code path
    * (crash inside it, then replay it) without a streaming harness. */
  private[graft] def exactDedupIndexedBatch(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
      id: String, text: String, indexDir: String,
      cfg: graft.operators.DigestIndex.Config,
      retainVersions: Int)(onPairs: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.DigestIndex
    val spark = batch.sparkSession
    val slim = batch.select(col(id), col(text))
    val b = digestPin(spark, batchId, indexDir, cfg)(onPairs)
    if (b.landed)
      b.emit(DigestIndex.dupPairsAt(spark, indexDir, b.committed() - 1, slim, id, text, cfg))
    else {
      b.deliver(DigestIndex.ingest(spark, indexDir, slim, id, text, cfg))
      DigestIndex.gc(spark, indexDir, retainVersions)
    }
  }

  /** The DigestIndex wrappers' pin, over an empty index (v1) created
    * on first contact: the first batch's probe then yields exactly the
    * batch-internal dup pairs. */
  private def digestPin(spark: SparkSession, batchId: Long, indexDir: String,
                        cfg: graft.operators.DigestIndex.Config)
                       (onPairs: (DataFrame, Long) => Unit): ReplayPin.Batch = {
    import graft.operators.DigestIndex
    if (!DigestIndex.exists(spark, indexDir))
      DigestIndex.create(spark, indexDir, cfg)
    ReplayPin.pin(spark, indexDir, batchId)(
      Seq(DigestIndex.latestVersion(spark, indexDir)))(onPairs)
  }

  /**
   * Streaming CDC ingest for the [[graft.operators.DigestIndex]] exact-
   * dedup index — the fourth family joins the CDC wrapper set
   * ([[cdcStreamIndexed]]/[[cdcRetrievalStreamIndexed]]/
   * [[cdcNearDupStream]]): micro-batches of `(op, id, text)` events
   * (`op` ∈ upsert/delete, delete-wins on a same-batch conflict) apply
   * as ONE DigestIndex.applyCdc commit each, emitting the surviving
   * upserts' dup pairs as of arrival. Replay and bootstrap as
   * [[exactDedupStreamIndexed]]: a redelivered batch re-emits via
   * [[graft.operators.DigestIndex.cdcPairsAt]] against the PRE-CDC
   * version.
   */
  def cdcExactDedupStream(events: DataFrame, opCol: String, id: String,
                          text: String, indexDir: String,
                          checkpointLocation: String,
                          cfg: graft.operators.DigestIndex.Config =
                            graft.operators.DigestIndex.Config(),
                          retainVersions: Int = 2)
                         (onPairs: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ReplayPin.start(events, checkpointLocation, retainVersions) { (batch, batchId) =>
      cdcExactDedupBatch(batch, batchId, opCol, id, text, indexDir, cfg,
        retainVersions)(onPairs)
    }

  /** One micro-batch of [[cdcExactDedupStream]] — factored out so
    * fault-injection tests drive the production path directly. */
  private[graft] def cdcExactDedupBatch(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
      opCol: String, id: String, text: String, indexDir: String,
      cfg: graft.operators.DigestIndex.Config,
      retainVersions: Int)(onPairs: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.DigestIndex
    val spark = batch.sparkSession
    val ups = batch.filter(col(opCol) === "upsert").select(col(id), col(text))
    val dels = batch.filter(col(opCol) === "delete").select(col(id))
    val b = digestPin(spark, batchId, indexDir, cfg)(onPairs)
    if (b.landed)
      b.emit(DigestIndex.cdcPairsAt(spark, indexDir, b.committed() - 1, ups, dels, id,
        text, cfg))
    else {
      b.deliver(DigestIndex.applyCdc(spark, indexDir, ups, dels, id, text, cfg))
      DigestIndex.gc(spark, indexDir, retainVersions)
    }
  }

  /** Maintain a persisted [[graft.operators.Ivm]] aggregate view from a
    * CDC stream — the fifth streaming-maintained family: one
    * z-set+view commit per micro-batch, paired by its z-set version
    * (README "Streaming replay contract"); the emit reads the batch's
    * own z-set version. `opCol` is "insert" | "delete"; delete rows
    * carry BEFORE-IMAGES (the standard CDC contract — an update is
    * delete(old)+insert(new)). A crash between the view's two inner
    * commits self-heals (rebuildView) before the batch commits or
    * re-emits, so exactly-once is by idempotence. `onRefresh` receives
    * the refreshed view rows of the batch's touched groups (live groups
    * only) and the batch id. The view must already exist
    * ([[graft.operators.Ivm.create]] — a stream cannot invent the view
    * definition). */
  def cdcViewStream(events: DataFrame, opCol: String, viewDir: String,
                    checkpointLocation: String, retainVersions: Int = 2)
                   (onRefresh: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ReplayPin.start(events, checkpointLocation, retainVersions) { (batch, batchId) =>
      cdcViewBatch(batch, batchId, opCol, viewDir, retainVersions)(onRefresh)
    }

  /** One micro-batch of [[cdcViewStream]] — factored out so
    * fault-injection tests drive the production path directly. */
  private[graft] def cdcViewBatch(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
      opCol: String, viewDir: String, retainVersions: Int)
      (onRefresh: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.Ivm
    val spark = batch.sparkSession
    require(Ivm.exists(spark, viewDir),
      s"no Ivm view at $viewDir — create it (spec + input schema) " +
        "before starting the stream")
    // fail LOUDLY on op values outside this view's contract — the four
    // index wrappers in this file use "upsert" for the add side, so
    // wiring the same CDC feed in here would otherwise yield a quiet
    // partial batch (quiet-batch contract) and a silently-wrong view.
    // NULL-safe: a null op makes isin() NULL, which a bare !isin filter
    // would silently DROP — and the row then also fails every equality
    // split below, i.e. exactly the quiet partial batch this check
    // exists to prevent.
    val badOps = batch.filter(
      !coalesce(col(opCol).isin("insert", "delete"), lit(false))).count()
    require(badOps == 0,
      s"$badOps batch rows carry an op value other than " +
        "'insert'/'delete' — this view's CDC contract is insert/delete " +
        "with before-images (an index wrapper's upsert feed must be " +
        "mapped upstream); nothing was applied")
    val b = ReplayPin.pin(spark, viewDir, batchId, counters = Seq("z-set version"))(
      Seq(Ivm.latestVersion(spark, viewDir)))(onRefresh)
    // the view may lag the z-set (a crash between the two inner
    // commits) or lead it (they run concurrently): repair first — a
    // replay then re-emits the rows the original refresh emitted, and
    // applyDelta refuses a mismatched VIEWSYNC pair
    if (Ivm.viewStale(spark, viewDir)) Ivm.rebuildView(spark, viewDir)
    if (!b.landed) Ivm.applyDelta(spark, viewDir,
      batch.filter(col(opCol) === "insert").drop(opCol),
      batch.filter(col(opCol) === "delete").drop(opCol))
    b.emit(Ivm.groupsAt(spark, viewDir, b.committed(), batch.drop(opCol)))
    if (!b.landed) Ivm.gc(spark, viewDir, retainVersions)
  }

  /** Maintain a persisted [[graft.operators.JoinIvm]] join-rollup view
    * from a two-sided CDC stream — the sixth streaming-maintained
    * family: one composite commit per micro-batch, paired by BOTH side
    * z-set versions, each advanced by exactly one per batch (README
    * "Streaming replay contract"); the emit reads the batch's own
    * side versions. Events carry `sideCol` ∈ "fact" | "dim" and
    * `opCol` ∈ "insert" | "delete" (deletes with BEFORE-IMAGES; an
    * update is delete(old) + insert(new)); each row must carry its
    * side's z-set columns ([[graft.operators.JoinIvm.sideCols]]) — the
    * other side's columns are ignored for that row.
    *
    * Crash self-heal over the three-table INFLIGHT window: a batch
    * interrupted between the two side commits reads as one side landed
    * and the other not, is repaired with [[graft.operators.JoinIvm
    * .rebuildView]], and is RESUMED by folding only the side that did
    * not land — the batch still consumes exactly one version per side.
    * A crash between the dim and view commits self-heals on the replay
    * path (rebuildView). Exactly-once is by idempotence. `onRefresh`
    * receives the refreshed view rows of the batch's touched groups
    * (live groups only) and the batch id. */
  def cdcJoinViewStream(events: DataFrame, opCol: String, sideCol: String,
                        viewDir: String, checkpointLocation: String,
                        retainVersions: Int = 2)
                       (onRefresh: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ReplayPin.start(events, checkpointLocation, retainVersions) { (batch, batchId) =>
      cdcJoinViewBatch(batch, batchId, opCol, sideCol, viewDir,
        retainVersions)(onRefresh)
    }

  /** One micro-batch of [[cdcJoinViewStream]] — factored out so
    * fault-injection tests drive the production path directly. */
  private[graft] def cdcJoinViewBatch(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
      opCol: String, sideCol: String, viewDir: String, retainVersions: Int)
      (onRefresh: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.JoinIvm
    val spark = batch.sparkSession
    require(JoinIvm.exists(spark, viewDir),
      s"no JoinIvm view at $viewDir — create it (spec + side schemas) " +
        "before starting the stream")
    val Seq(fi, fd, di, dd) = twoSided(batch, opCol, sideCol,
      JoinIvm.sideCols(spark, viewDir))
    val b = ReplayPin.pin(spark, viewDir, batchId, counters = SideCounters)({
      val (fv, dv) = JoinIvm.latestVersions(spark, viewDir)
      Seq(fv, dv)
    })(onRefresh)
    b.landing match {
      case _ if b.landed =>
        // the view may lag (crash between dim and view commits, or
        // mid-view): repair, then re-emit READ-ONLY
        if (JoinIvm.viewStale(spark, viewDir))
          JoinIvm.rebuildView(spark, viewDir)
        else if (JoinIvm.inflight(spark, viewDir))
          // refresh completed through VIEWSYNC but crashed before the
          // marker delete: the view is provably consistent — clear it
          graft.operators.VersionedLayout.fs(spark, viewDir)
            .delete(new org.apache.hadoop.fs.Path(viewDir, "INFLIGHT"), false)
      case Seq(ReplayPin.Fresh, ReplayPin.Fresh) =>
        // a leftover INFLIGHT with nothing of THIS batch landed (crash
        // between the marker write and the first fold) is cleared by
        // the same repair applyDelta would demand
        if (JoinIvm.inflight(spark, viewDir) ||
            JoinIvm.viewStale(spark, viewDir))
          JoinIvm.rebuildView(spark, viewDir)
        JoinIvm.applyDelta(spark, viewDir, fi, fd, di, dd)
      case Seq(fact, dim) =>
        // one side landed (the side folds commit concurrently, so
        // either can be the one): rebuildView restores view↔z-set
        // consistency (and clears the marker); the RESUME fold applies
        // only the missing side — the landed side's delta still
        // participates in the view delta algebraically (F = F′ − ΔF),
        // and ΔD = 0 makes the bilinear formula apply exactly the
        // remaining ΔF ⋈ D′ term (and mirrored)
        JoinIvm.rebuildView(spark, viewDir)
        JoinIvm.applyDeltaFolding(spark, viewDir, fi, fd, di, dd,
          foldFact = fact == ReplayPin.Fresh, foldDim = dim == ReplayPin.Fresh)
    }
    b.emit(JoinIvm.groupsAt(spark, viewDir, b.committed(0), b.committed(1),
      fi, fd, di, dd))
    if (!b.landed) JoinIvm.gc(spark, viewDir, retainVersions)
  }

  private val SideCounters = Seq("fact z-set version", "dim z-set version")

  /** A two-sided CDC batch split into fact inserts, fact deletes, dim
    * inserts and dim deletes, each projected onto its side's columns.
    * Fails LOUDLY on op/side values outside the contract: a quiet
    * partial batch would leave the view silently wrong forever
    * (NULL-safe: a null op/side would make !isin NULL → silently
    * dropped). */
  private def twoSided(batch: DataFrame, opCol: String, sideCol: String,
                       cols: (Seq[String], Seq[String])): Seq[DataFrame] = {
    val bad = batch.filter(
      !coalesce(col(opCol).isin("insert", "delete"), lit(false)) ||
      !coalesce(col(sideCol).isin("fact", "dim"), lit(false))).count()
    require(bad == 0,
      s"$bad batch rows carry an op outside 'insert'/'delete' or a " +
        "side outside 'fact'/'dim' — this view's CDC contract is " +
        "two-sided insert/delete with before-images; nothing was applied")
    for ((side, sc) <- Seq("fact" -> cols._1, "dim" -> cols._2); op <- Seq("insert", "delete"))
      yield batch.filter(col(sideCol) === side && col(opCol) === op).select(sc.map(col): _*)
  }

  /** Maintain a persisted [[graft.operators.IvmOverJoin]] view — the
    * maintained join with the FULL aggregate set (min / max /
    * count-distinct exact under retraction) — from a two-sided CDC
    * stream: the SEVENTH streaming-maintained family, with
    * [[cdcJoinViewStream]]'s events and pairing.
    *
    * This view's refresh is the LONGEST commit chain of the family —
    * factz, dimz (concurrent), then the inner Ivm's z-set AND view —
    * so its crash window set is the widest. Pairing is on the two SIDE
    * versions only; the inner Ivm's versions float (recovery rebuilds
    * consume extra ones) and the pinned re-emit reads the inner version
    * the SYNC marker records. Both sides landed →
    * [[graft.operators.IvmOverJoin.heal]] (which tells apart "joined
    * delta never landed" / "inner view lags" / "bookkeeping only" via
    * the INFLIGHT marker's recorded pre-version) then a read-only
    * re-emit; one side landed → [[graft.operators.IvmOverJoin
    * .rebuild]] + a one-sided resume fold; neither → normal apply.
    * Exactly-once is by idempotence. `onRefresh` receives the
    * refreshed view rows of the batch's touched groups (live groups
    * only) and the batch id. */
  def cdcFullJoinViewStream(events: DataFrame, opCol: String,
                            sideCol: String, viewDir: String,
                            checkpointLocation: String,
                            retainVersions: Int = 2)
                           (onRefresh: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ReplayPin.start(events, checkpointLocation, retainVersions) { (batch, batchId) =>
      cdcFullJoinViewBatch(batch, batchId, opCol, sideCol, viewDir,
        retainVersions)(onRefresh)
    }

  /** One micro-batch of [[cdcFullJoinViewStream]] — factored out so
    * fault-injection tests drive the production path directly. */
  private[graft] def cdcFullJoinViewBatch(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
      opCol: String, sideCol: String, viewDir: String, retainVersions: Int)
      (onRefresh: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.IvmOverJoin
    val spark = batch.sparkSession
    require(IvmOverJoin.exists(spark, viewDir),
      s"no IvmOverJoin view at $viewDir — create it (spec + side " +
        "schemas) before starting the stream")
    val Seq(fi, fd, di, dd) = twoSided(batch, opCol, sideCol,
      IvmOverJoin.sideCols(spark, viewDir))
    val b = ReplayPin.pin(spark, viewDir, batchId, counters = SideCounters)({
      val (fv, dv, _) = IvmOverJoin.latestVersions(spark, viewDir)
      Seq(fv, dv)
    })(onRefresh)
    b.landing match {
      // heal whatever tail state the crash left (joined delta, inner
      // view, or bookkeeping), then re-emit READ-ONLY
      case _ if b.landed => IvmOverJoin.heal(spark, viewDir)
      case Seq(ReplayPin.Fresh, ReplayPin.Fresh) =>
        // a leftover INFLIGHT with nothing of THIS batch landed is
        // cleared by the same repair applyDelta would demand
        if (IvmOverJoin.inflight(spark, viewDir) ||
            IvmOverJoin.viewStale(spark, viewDir))
          IvmOverJoin.rebuild(spark, viewDir)
        IvmOverJoin.applyDelta(spark, viewDir, fi, fd, di, dd)
      case Seq(fact, dim) =>
        // one side landed (either can be the one): rebuild restores a
        // consistent joined state from whatever sides committed, then
        // the resume fold applies ONLY the missing side
        IvmOverJoin.rebuild(spark, viewDir)
        IvmOverJoin.applyDeltaFolding(spark, viewDir, fi, fd, di, dd,
          foldFact = fact == ReplayPin.Fresh, foldDim = dim == ReplayPin.Fresh)
    }
    b.emit(IvmOverJoin.groupsAt(spark, viewDir, b.committed(0), b.committed(1),
      fi, fd, di, dd))
    if (!b.landed) IvmOverJoin.gc(spark, viewDir, retainVersions)
  }

  /** Run a streaming query to completion against the (finite) batch
    * source and return the result — the slicetest.Run analog for
    * streaming (memory sink + processAllAvailable). */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
                  outputMode: String = "update"): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
