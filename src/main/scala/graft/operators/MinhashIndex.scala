package graft.operators

import graft.functions.MinhashFunctions.minhashSigF
import graft.io.ParquetFooters
import graft.sources.Bucketing
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted MinHash/LSH index for INCREMENTAL near-dup detection — the
 * steady-state form of [[Dedup.minhashIncremental]]: instead of
 * recomputing corpus shingles and signatures on every ingest, the
 * corpus-side state lives in three tables under a versioned directory
 * and each ingest probes them one-sided. Per-ingest COMPUTE is
 * proportional to the batch; the corpus text is never read again.
 * (Reference analogue: the cache-short-circuit discipline of
 * exec/compile.go:344-368 — recompute only what persisted state can't
 * answer.)
 *
 * Layout (`dir/` on any Hadoop filesystem):
 * {{{
 *   latest/vNNNNN       monotonic version pointer files (read = max;
 *                       commit = one atomic create — no flip window)
 *   v00001/docs/        (id, sharr ARRAY<STRING>) UNCAPPED distinct
 *                       shingles per doc — the narrow array form
 *   v00001/df/          (shingle, df)   corpus document frequency
 *   v00001/hot/         (shingle) the df > cap stop-shingle set — tiny
 *                       by construction; persisting it keeps the probe
 *                       from re-deriving it with a second df scan
 *   v00001/warm/        (shingle, df) the df > cap/2 slice — the only
 *                       df rows a small-batch probe can need (see the
 *                       crossability bound below), so the steady-state
 *                       probe never scans the corpus-sized df table
 *   v00001/bands/       (id, band, bucket) LSH keys over CAPPED sets,
 *                       bucket-named parquet written CLUSTERED BY
 *                       (band, bucket) — probes join it shuffle-free
 * }}}
 *
 * Versions are immutable: [[appendToIndex]] writes v{n+1} and flips
 * the pointer last, so concurrent readers of v{n} are never disturbed and a
 * failed append leaves the index untouched (rename is atomic on
 * HDFS/local; on S3 keep the pointer in a manifest store). Old versions are
 * retained for the caller to garbage-collect.
 *
 * Probe-side shuffle discipline (what makes an ingest batch-sized at
 * 100 TB): the corpus df table is only ever SCANNED (once, for the
 * batch-overlap counts) — hotness checks broadcast the (small) batch
 * shingle-frequency frame onto it, so no corpus-sized Exchange exists
 * anywhere in the probe. The `docs/` read for verification is filtered
 * to candidate documents BEFORE the scan: candidate ids (batch-scale)
 * are pushed into the parquet scan as an `In` filter, so row-group
 * stats and dictionary pages skip the non-candidate corpus — I/O is
 * candidate-sized, not corpus-sized (falls back to a broadcast
 * semi-join over a full scan if the candidate set is abnormally
 * large).
 *
 * THE df-cap subtlety (what makes probe results EXACTLY equal to
 * [[Dedup.minhashIncremental]] over existing ∪ batch): the stop-shingle
 * set is defined over the COMBINED document frequency, and a batch can
 * push a shingle over the cap. Document frequency only grows, so
 * shingles only ever BECOME hot — the corpus docs whose capped shingle
 * set changed are exactly those containing a newly-hot shingle. Their
 * band rows are recomputed from the persisted doc arrays; everyone
 * else's persisted bands are reused verbatim. The newly-hot set is
 * empty almost always (caps are set so only degenerate boilerplate
 * crosses them) — the probe checks this with one tiny job and, in the
 * empty case, skips the affected-doc machinery entirely: the
 * steady-state ingest recomputes nothing.
 */
object MinhashIndex {

  /** Index/query parameters — must match between build and probe (they
    * are part of the index's identity, like an index schema). */
  final case class Config(k: Int = 3, numPerms: Int = 64, bandRows: Int = 2,
                          minJ: Double = 0.5, maxShingleDf: Int = 100,
                          nBuckets: Int = 32) {
    def nBands: Int = numPerms / bandRows
  }

  /** Largest batch shingle-frequency frame the probe will broadcast
    * (rows). ~2M (shingle, count) rows ≈ low hundreds of MB on the
    * driver; beyond that the probe degrades to a shuffle join — slower,
    * never OOM. Execution tuning, not index identity (not in Config). */
  private val MaxBroadcastShingles = 2L * 1000 * 1000

  /** Largest candidate-pair set whose doc ids are collected and pushed
    * into the docs/ parquet scan as an `In` filter (candidate-sized
    * I/O); larger sets fall back to a broadcast semi-join over a full
    * scan. Steady-state candidate sets are orders of magnitude below
    * this. */
  private val MaxPushdownCandidates = 10L * 1000

  // ------------------------------------------------------------------
  // Versioned layout plumbing — shared with IvfIndex (VersionedLayout).
  // ------------------------------------------------------------------

  import VersionedLayout.{atomicWrite, fs, versionDir}

  /** On-disk layout revision. 5 = tombstone delete versions (round 9:
    * a delete commit writes tomb/ + dfneg/ + corrected hot/warm + an
    * optional bandfix/ overlay and a BASE pointer to the physical
    * tables, instead of rewriting the corpus); 4 = persisted hot/ +
    * warm/ df-slice tables (round 6); 2 = per-doc array docs/ table
    * (round 5); 1 was the exploded shingles/ layout. Checked on every
    * probe so a stale index fails with "rebuild", not a parquet path
    * error. */
  private val FormatVersion = 5

  /** Current committed version, from the monotonic pointer files. */
  def latestVersion(spark: SparkSession, dir: String): Int =
    VersionedLayout.latestVersion(spark, dir, FormatVersion, "MinhashIndex")

  /** True if `dir` holds a committed index. */
  def exists(spark: SparkSession, dir: String): Boolean =
    VersionedLayout.exists(spark, dir)

  /** Catalog name for a version's bands table: derived from the index
    * path so concurrent indexes in one session never collide. */
  private def bandsTableName(dir: String, v: Int): String =
    f"graft_mhidx_${Integer.toHexString(dir.hashCode)}%s_v$v%05d"

  /** Session-scoped handles of resolved per-version tables. Versions
    * are IMMUTABLE, so a resolved DataFrame stays valid for the life
    * of its session; re-resolving (file listing, footer schema
    * inference, catalog lookup) on every probe was a measurable slice
    * of the steady-state ingest's driver time — a streaming ingest
    * probes the same version's tables many times between appends.
    *
    * Lifecycle: keys are `applicationId:sessionId:path` and
    * values are WEAK references, so the cache pins neither the
    * DataFrames nor (through them) a stopped SparkSession — a
    * weakly-KEYED map would, since the Dataset values strongly
    * reference their session. The session id is a UUID minted per
    * live session in a weak side-map (an identity hash is not unique:
    * two LIVE sessions in one JVM can collide, serving a DataFrame
    * bound to the wrong session; the UUID map entry dies with its
    * session, and the String value holds no reference back to the
    * key). Dead entries are purged opportunistically on access;
    * [[gc]] drops entries of reaped versions eagerly. */
  private val handles = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.WeakReference[DataFrame]]()
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private def handleKey(spark: SparkSession, path: String): String = {
    val sid = sessionIds.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)
    s"${spark.sparkContext.applicationId}:$sid:$path"
  }
  private def cachedRead(spark: SparkSession, path: String): DataFrame = {
    val k = handleKey(spark, path)
    val hit = handles.get(k)
    val df = if (hit == null) null else hit.get()
    if (df != null) df
    else {
      if (handles.size > 4096) // purge dead refs before growing further
        handles.entrySet.removeIf(_.getValue.get() == null)
      val fresh = ParquetFooters.read(spark, path)
      handles.put(k, new java.lang.ref.WeakReference(fresh))
      fresh
    }
  }
  private def putHandle(spark: SparkSession, path: String, df: DataFrame): Unit =
    handles.put(handleKey(spark, path), new java.lang.ref.WeakReference(df))
  private def getHandle(spark: SparkSession, path: String): DataFrame = {
    val h = handles.get(handleKey(spark, path))
    if (h == null) null else h.get()
  }
  private def dropHandles(spark: SparkSession, pathPrefix: String): Unit = {
    val p = handleKey(spark, pathPrefix)
    handles.keySet.removeIf(_.startsWith(p))
    handleCounts.keySet.removeIf(_.startsWith(p))
  }

  /** Row counts of immutable per-version tables: lets per-probe
    * broadcast guards avoid re-counting. Cleaned by [[gc]] alongside
    * [[handles]]; bounded by a wholesale clear (counts recompute
    * cheaply) so a long ingest loop over many versions can't grow it
    * without limit. */
  private val handleCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def cachedCount(spark: SparkSession, path: String): Long = {
    if (handleCounts.size > 4096) handleCounts.clear()
    handleCounts.computeIfAbsent(handleKey(spark, path),
      _ => ParquetFooters.count(spark, path))
  }

  /** The bands table, catalog-registered CLUSTERED BY (band, bucket) so
    * probe joins leave the index side unshuffled. Re-attaches the
    * bucket spec in a fresh session via CREATE TABLE … LOCATION; falls
    * back to a plain parquet read (correct, one extra Exchange) if the
    * catalog refuses. */
  private val bandsCreateLock = new Object
  private def readBands(spark: SparkSession, dir: String, v: Int,
                        cfg: Config): DataFrame = {
    val path = s"${versionDir(dir, v)}/bands"
    val cached = getHandle(spark, path)
    if (cached != null) cached
    else try {
      val t = bandsTableName(dir, v)
      // serialized check-then-create: two concurrent first probes must
      // not race CREATE TABLE — the loser's TableAlreadyExists would
      // land in the fallback and silently re-shuffle the corpus-sized
      // band table for that probe
      bandsCreateLock.synchronized {
        if (!spark.catalog.tableExists(t)) {
          val cols = ParquetFooters.read(spark, path).schema.fields
            .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
          spark.sql(s"CREATE TABLE `$t` ($cols) USING parquet " +
            s"CLUSTERED BY (band, bucket) SORTED BY (band, bucket) " +
            s"INTO ${cfg.nBuckets} BUCKETS LOCATION '$path'")
        }
      }
      val df = spark.table(t)
      putHandle(spark, path, df) // only the bucketed form is cached
      df
    } catch {
      // transient catalog failure: fall back for THIS probe only — a
      // cached fallback would silently demote every later probe of the
      // version to an unbucketed (re-shuffled) band join
      case scala.util.control.NonFatal(_) => ParquetFooters.read(spark, path)
    }
  }

  // ------------------------------------------------------------------
  // Tombstone layer (delete commits)
  //
  // A delete writes version v+1 holding ONLY delete-batch-or-smaller
  // state — never the corpus tables:
  //   BASE      pointer to the version holding the physical docs/df/
  //             bands tables (always a build/append/compact version)
  //   tomb/     (__tomb_id) cumulative dead ids since BASE
  //   dfneg/    (shingle, ddf) cumulative df corrections — computed
  //             from the dead docs' own stored shingle arrays
  //   hot/warm  rewritten EXACTLY (both are small slices by
  //             construction; hot/warm only shrink under deletes, so
  //             the corrected values come from the previous warm slice
  //             joined with the delete's own delta — no df scan)
  //   bandfix/  (id, band, bucket) recomputed band rows for live docs
  //             whose capped set GREW because a shingle fell back
  //             under the df cap (rare; bounded by the un-hot
  //             shingles' memberships)
  // Probes mask at read time (broadcast anti-joins — deletes ≪
  // corpus); the next append/compact folds everything physically,
  // exactly like the IvfIndex/TermIndex LSM siblings.
  // ------------------------------------------------------------------

  /** Version whose directory holds the physical docs/df/bands tables
    * for `v` — `v` itself unless `v` is a tombstone (delete) commit. */
  private def baseOf(spark: SparkSession, dir: String, v: Int): Int = {
    val f = fs(spark, dir)
    val p = new Path(versionDir(dir, v), "BASE")
    if (f.exists(p)) VersionedLayout.readSmall(f, p).toInt else v
  }

  private def optRead(spark: SparkSession, path: String): Option[DataFrame] =
    if (fs(spark, path).exists(new Path(path))) Some(cachedRead(spark, path))
    else None

  /** Broadcast-hint `df` only while its (memoized) row count fits the
    * driver — the same guard discipline as the batch/warm frames. */
  private def bcastIfSmall(spark: SparkSession, path: String,
                           df: DataFrame): DataFrame =
    if (cachedCount(spark, path) <= MaxBroadcastShingles) broadcast(df) else df

  /** The LIVE corpus state of version `v`: physical tables of its BASE
    * version with the tombstone layer applied at read time. `bands` is
    * the bucketed table masked of dead and band-fixed docs; `overlay`
    * carries the (small, unbucketed) recomputed rows for the latter. */
  private final case class Live(docs: DataFrame, df: DataFrame,
                                bands: DataFrame,
                                overlay: Option[DataFrame])

  private def liveState(spark: SparkSession, dir: String, v: Int,
                        id: String, cfg: Config): Live = {
    val base = baseOf(spark, dir, v)
    val bvd = versionDir(dir, base)
    val docs0 = cachedRead(spark, s"$bvd/docs")
    val df0 = cachedRead(spark, s"$bvd/df")
    val bands0 = readBands(spark, dir, base, cfg)
    if (base == v) Live(docs0, df0, bands0, None)
    else {
      val vd = versionDir(dir, v)
      val tomb = bcastIfSmall(spark, s"$vd/tomb",
        cachedRead(spark, s"$vd/tomb"))
      val docs = docs0.join(tomb, col(id) === col("__tomb_id"), "left_anti")
      val dfneg = bcastIfSmall(spark, s"$vd/dfneg",
        cachedRead(spark, s"$vd/dfneg"))
      val dfC = df0.join(dfneg, Seq("shingle"), "left_outer")
        .select(col("shingle"),
          (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
        .filter(col("df") > 0)
      val overlay = optRead(spark, s"$vd/bandfix")
      val masked = bands0.join(tomb, col(id) === col("__tomb_id"), "left_anti")
      val bands = overlay.fold(masked)(o =>
        masked.join(broadcast(o.select(col(id)).distinct()), Seq(id),
          "left_anti"))
      Live(docs, dfC, bands, overlay)
    }
  }

  // ------------------------------------------------------------------
  // Build / probe / append
  // ------------------------------------------------------------------

  /** One-row frame holding the given shingle set as an array — the
    * broadcastable form `array_except` consumes (see
    * [[Dedup.dfCappedArrays]] for why this beats an anti-join here). */
  private def asOneRowArray(shingleSet: DataFrame, colName: String): DataFrame =
    shingleSet.agg(collect_list(col("shingle")).as(colName))

  /** Remove `hot1` (a one-row hot-shingle array frame) from each doc's
    * array; docs left with nothing drop out. */
  private def cappedBy(docs: DataFrame, id: String, hot1: DataFrame): DataFrame =
    docs.crossJoin(broadcast(hot1))
      .select(col(id), array_except(col("sharr"), col("hotarr")).as("sharr"))
      .filter(size(col("sharr")) > 0)

  private def bandsOf(docs: DataFrame, id: String, cfg: Config): DataFrame =
    Dedup.lshBands(
      docs.select(col(id), minhashSigF(col("sharr"), cfg.numPerms).as("sig")),
      id, cfg.nBands, cfg.bandRows)

  /** Build v1 of the index over `corpus`. One shingle scan feeds all
    * three tables (persisted, like [[Dedup.minhashDupPairs]]'s). */
  def build(spark: SparkSession, corpus: DataFrame, id: String, text: String,
            dir: String, cfg: Config = Config()): Unit = {
    VersionedLayout.withClaim(spark, dir, 1, FormatVersion, "MinhashIndex") {
      val docs = Dedup.shingleArrays(corpus, id, text, cfg.k).persist()
      val dfTab = docs.select(col(id), explode(col("sharr")).as("shingle"))
        .groupBy(col("shingle")).agg(count(lit(1)).as("df")).persist()
      val hotTab = dfTab.filter(col("df") > cfg.maxShingleDf).select("shingle")
      val hot1 = asOneRowArray(hotTab, "hotarr")
      val bands = bandsOf(cappedBy(docs, id, hot1), id, cfg)
      val vd = versionDir(dir, 1)
      docs.write.mode("overwrite").parquet(s"$vd/docs")
      dfTab.write.mode("overwrite").parquet(s"$vd/df")
      hotTab.write.mode("overwrite").parquet(s"$vd/hot")
      dfTab.filter(col("df") > warmThreshold(cfg))
        .write.mode("overwrite").parquet(s"$vd/warm")
      Bucketing.writeBucketedAt(bands, bandsTableName(dir, 1), cfg.nBuckets,
        Seq("band", "bucket"), s"$vd/bands")
      docs.unpersist(); dfTab.unpersist()
    }
  }

  /** The warm slice holds every df row a probe with
    * max(bdf) ≤ cap − warmThreshold can need: a shingle crosses the
    * cap only if df + bdf > cap, so with df ≤ warmThreshold it would
    * need bdf > cap − warmThreshold — excluded by the guard. cap/2
    * balances slice size against the batch sizes that qualify. */
  private def warmThreshold(cfg: Config): Int = cfg.maxShingleDf / 2

  /** Everything one ingest needs: the verified pairs plus the three
    * updated tables (lazy — materialized only if the caller appends)
    * and the frames the probe pinned into the cache (the candidate
    * pair set and the capped candidate docs; the batch-scale upstream
    * frames are localCheckpoint'ed instead and GC-clean themselves) —
    * `pairs` reads through the cached pair, so they are released
    * (`done()`) only after the caller has materialized what it needs.
    * The ingest/append loop bodies do this; a probe-only caller's
    * caches live until `spark.catalog.clearCache()` (the same
    * discipline as the Dedup operators' persisted frames). */
  private final case class Probe(pairs: DataFrame, newDocs: DataFrame,
                                 newDf: DataFrame, newHot: DataFrame,
                                 newBands: DataFrame,
                                 cached: Seq[DataFrame]) {
    def done(): Unit = cached.foreach(_.unpersist())
  }

  /**
   * The one-sided probe against index version `v`, mirroring
   * [[Dedup.minhashIncremental]] step for step — every hash, cap and
   * verification runs through the same kernels, which is what makes
   * the pair sets (including jaccard doubles) identical.
   */
  private def probe(spark: SparkSession, dir: String, v: Int,
                    batch: DataFrame, id: String, text: String,
                    cfg: Config): Probe = {
    val vd = versionDir(dir, v)
    // live views: the BASE version's physical tables with v's tombstone
    // layer (if any) applied at read time — broadcast anti-join masks,
    // never a corpus rewrite. On a physical version these ARE the raw
    // tables and the overlay is empty.
    val st = liveState(spark, dir, v, id, cfg)
    val corpusDocs = st.docs
    val corpusDf = st.df
    val corpusBands = st.bands

    // Batch-scale frames are localCheckpoint'ed rather than persisted:
    // each is re-referenced by several downstream plans, and a persist
    // re-EMBEDS its whole logical subtree at every reference — the
    // probe's printed plan reached ~1000 Exchange nodes and Catalyst
    // re-optimized that blown-up tree on every ingest. Checkpointing
    // truncates lineage to an RDD leaf (plans stay probe-sized) and the
    // blocks are GC-cleaned when the probe is dropped. Tradeoff: a lost
    // executor fails the ingest job instead of recomputing lineage —
    // the caller retries the (batch-sized) ingest, which is the
    // documented recovery path anyway (versions are immutable).
    //
    // eager = false throughout: a LAZY local checkpoint truncates the
    // logical plan identically but materializes as a side effect of
    // the first job that reads the frame — the eager form ran one
    // driver-blocking job per checkpoint, and those ~6 sequential
    // small jobs (not I/O) were the probe's local latency floor
    // (every consumer here reads ALL partitions, so the
    // partial-materialization caveat of lazy checkpoints never bites).
    val batchDocs = Dedup.shingleArrays(batch, id, text, cfg.k)
      .localCheckpoint(eager = false)
    val batchDf = batchDocs.select(explode(col("sharr")).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("bdf"))
      .localCheckpoint(eager = false)

    // Combined df decides hotness. The corpus df table is never
    // shuffled for this: shingles already hot in the corpus come from
    // the persisted hot/ table (tiny — no df scan at all); shingles
    // the batch could push over the cap are found by broadcasting the
    // (batch-sized) batch frequencies onto a df-side scan; batch-ONLY
    // shingles can make the cap entirely on their own df. All three
    // frames are batch-or-hot-set sized — tiny, and they fold into ONE
    // persisted one-row aggregate carrying both the full hot array
    // (hotarr, fed to every cappedBy) and its newly-hot subset (nharr,
    // driving the affected-doc recompute) — one job, not one per
    // consumer.
    //
    // TWO guards, from one aggregate over the already-checkpointed
    // batch frequencies:
    //  - batchFitsDriver: broadcasting the batch side is what keeps
    //    the df side unshuffled, but only while it fits the driver —
    //    a corpus-sized bootstrap batch falls back to a shuffle join.
    //  - warm path: a shingle OUTSIDE the warm slice has df ≤ T, so it
    //    can cross the cap only with bdf > cap − T; and if bdf > cap
    //    it is batch-hot outright (correctly flagged by batchHotF with
    //    the right `newly`, whatever its df). The slice is therefore
    //    exact unless some non-warm batch shingle has bdf in
    //    (cap − T, cap] — checked with one batch-sized job against the
    //    (tiny, broadcast) warm slice. Shingles ALREADY in warm may
    //    have any bdf (hot boilerplate always does); their exact df is
    //    in the slice. Result: the steady-state probe touches nothing
    //    corpus-sized; only a shingle-heavy batch hitting the blocked
    //    window pays one full df scan.
    val warmSlice = cachedRead(spark, s"$vd/warm")
    val cap = cfg.maxShingleDf
    // the warm slice grows monotonically with the corpus (df only ever
    // grows), so its broadcast into the guard is itself guarded — a
    // slice too big for the driver joins unhinted (batch-sized shuffle;
    // the count is computed once per version and memoized)
    val warmKeys = warmSlice.select(col("shingle"), lit(true).as("__warm"))
    val warmBcast =
      if (cachedCount(spark, s"$vd/warm") <= MaxBroadcastShingles)
        broadcast(warmKeys)
      else warmKeys
    // ONE driver round computes EVERY scalar the probe branches on:
    // the two guards (broadcast safety, warm-path exactness) AND the
    // hot/newly-hot shingle sets. The warm-side hot aggregate can ride
    // the same job as the guards because it is built WITHOUT a manual
    // broadcast hint — AQE converts the batch-sized build side to a
    // broadcast join at runtime, so it needs no driver-side size
    // decision first. Both subplans are one-row aggregates; the
    // crossJoin collapses them into one collected row. (This fused the
    // probe's former guards job and hot-set job — two sequential
    // driver rounds whose analysis+scheduling constant, not data work,
    // dominated the steady-state probe.)
    val corpusHotF = cachedRead(spark, s"$vd/hot")
      .select(col("shingle"), lit(false).as("newly"))
    def hotAgg(joint: DataFrame, batchOnly: DataFrame): DataFrame = {
      val jointHotF = joint.filter(col("df") + col("bdf") > cfg.maxShingleDf)
        .select(col("shingle"), (col("df") <= cfg.maxShingleDf).as("newly"))
      val batchHotF = batchOnly.filter(col("bdf") > cfg.maxShingleDf)
        .select(col("shingle"), lit(true).as("newly"))
      // flags are consistent per shingle (the three branches overlap
      // only with equal flags), so distinct dedupes cleanly
      corpusHotF.unionByName(jointHotF).unionByName(batchHotF)
        .distinct()
        .agg(collect_list(col("shingle")).as("hotarr"),
          collect_list(when(col("newly"), col("shingle"))).as("nharr"))
    }
    val jointW = warmSlice.join(batchDf, Seq("shingle"))
      .select(col("shingle"), col("df"), col("bdf"))
    val batchOnlyW = batchDf
      .join(jointW.select("shingle"), Seq("shingle"), "left_anti")
    val combined = batchDf.join(warmBcast, Seq("shingle"), "left_outer")
      .agg(count(lit(1)),
        count(when(col("__warm").isNull &&
          col("bdf") > cap - warmThreshold(cfg) && col("bdf") <= cap, 1)))
      .crossJoin(hotAgg(jointW, batchOnlyW))
      .first()
    val (bShingles, nBlocked) = (combined.getLong(0), combined.getLong(1))
    val batchFitsDriver = bShingles <= MaxBroadcastShingles
    def bcastBatch(d: DataFrame): DataFrame =
      if (batchFitsDriver) broadcast(d) else d
    // the warm-side hot sets are exact unless a non-warm batch shingle
    // landed in the blocked window (see the guard derivation above) —
    // only then pay a second round against the full corpus df
    val (hotArr, nhArr) =
      if (nBlocked == 0) (combined.getSeq[Any](2), combined.getSeq[Any](3))
      else {
        val joint = corpusDf.join(bcastBatch(batchDf), Seq("shingle"))
          .select(col("shingle"), col("df"), col("bdf"))
          .localCheckpoint(eager = false)
        val batchOnly = batchDf
          .join(bcastBatch(joint.select("shingle")), Seq("shingle"), "left_anti")
        val r = hotAgg(joint, batchOnly).first()
        (r.getSeq[Any](0), r.getSeq[Any](1))
      }
    // the hot sets are DRIVER VALUES now (they were going to be
    // broadcast anyway — same memory class); rebuilding them as
    // literal one-row frames frees every downstream consumer from
    // racing a shared lazy checkpoint inside one job
    val shingleType = batchDf.schema("shingle").dataType
    def arrRow(name: String, v: Seq[Any]): DataFrame =
      spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row(v)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(name,
            org.apache.spark.sql.types.ArrayType(shingleType)))))
    val hot1 = arrRow("hotarr", hotArr)

    // Corpus docs whose capped set changed = docs containing a
    // newly-hot shingle. Almost always there are none (nhArr came back
    // empty with the fused round above), and the whole recompute path
    // (including its corpus-docs scan) is skipped. When non-empty, the
    // affected set is bounded by the newly-hot shingles' (≤cap)
    // memberships — it BROADCASTS, and the corpus-sized band table is
    // filtered in place, never re-shuffled.
    val cachedB = Seq.newBuilder[DataFrame]
    val (keptBands, keptOverlay, recomputedBands) =
      if (nhArr.isEmpty) (corpusBands, st.overlay, None)
      else {
        val nh1 = arrRow("nharr", nhArr)
        val affectedDocs = corpusDocs.crossJoin(broadcast(nh1))
          .filter(arrays_overlap(col("sharr"), col("nharr")))
          .select(col(id), col("sharr")).localCheckpoint(eager = false)
        val affectedIds = affectedDocs.select(col(id))
        val kept = corpusBands.join(broadcast(affectedIds), Seq(id), "left_anti")
        // tombstone-overlay rows of affected docs are superseded by the
        // recompute below (affectedDocs came from the LIVE docs view,
        // so overlay docs are included in it)
        val keptO = st.overlay.map(
          _.join(broadcast(affectedIds), Seq(id), "left_anti"))
        val recomputed = bandsOf(cappedBy(affectedDocs, id, hot1), id, cfg)
        (kept, keptO, Some(recomputed))
      }

    val batchBands = bandsOf(cappedBy(batchDocs, id, hot1), id, cfg)
      .localCheckpoint(eager = false)

    // one-sided LSH probe: every candidate pair touches the batch. The
    // join is split so the corpus-sized side is the BUCKETED bands
    // scan joined directly on its (band, bucket) clustering — the
    // index side is never re-shuffled per ingest (the batch side
    // broadcasts or shuffles to the bucket count); only the
    // batch-scale fresh bands (plus the small tombstone overlay, when
    // one is live) take the second, tiny join.
    val freshBands = (keptOverlay.toSeq ++ recomputedBands.toSeq :+ batchBands)
      .reduce(_.unionByName(_))
    val r = batchBands.select(col(id).as("b"), col("band"), col("bucket"))
    val candidates =
      keptBands.select(col(id).as("a"), col("band"), col("bucket"))
        .join(r, Seq("band", "bucket"))
        .unionByName(
          freshBands.select(col(id).as("a"), col("band"), col("bucket"))
            .join(r, Seq("band", "bucket")))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .distinct().persist()
    // Materialize NOW, with ONE action: collect up to the pushdown
    // limit + 1. Exhausting the limit means the pair set is abnormally
    // large (fallback path); otherwise the collected rows ARE the full
    // candidate set. The materialization matters beyond the ids:
    // candIds/verification are CONCURRENT AQE stage consumers, and
    // concurrent scans of an unmaterialized persist each recompute the
    // full candidate chain (measured: the two most expensive jobs of
    // the probe were the same scan twice).
    val firstN = candidates.limit(MaxPushdownCandidates.toInt + 1).collect()

    // exact-Jaccard verification over capped ARRAYS, restricted to
    // candidate docs BEFORE anything touches the corpus doc table.
    // Candidate ids are batch-scale: in the normal case they push into
    // the docs/ parquet scan as an `In` filter — row-group stats and
    // dictionary pages skip the non-candidate corpus, so verification
    // I/O is candidate-sized. An abnormally large candidate set falls
    // back to a broadcast semi-join over the full scan (correct at any
    // size; candidates.count() re-materializes whatever the truncated
    // limit scan skipped before the concurrent consumers fan out).
    val allDocs = corpusDocs.unionByName(batchDocs)
    val candDocs =
      if (firstN.length <= MaxPushdownCandidates) {
        val ids = firstN.iterator
          .flatMap(r => Iterator(r.get(0), r.get(1))).toSet.toSeq
        allDocs.filter(col(id).isInCollection(ids))
      } else {
        candidates.count()
        val candIds = candidates.select(col("a").as(id))
          .unionByName(candidates.select(col("b").as(id))).distinct()
        allDocs.join(broadcast(candIds), Seq(id), "left_semi")
      }
    // persisted: verification reads the capped candidate docs once per
    // pair SIDE; the sides may race the cache materialization, but the
    // doubled work is a candidate-sized filtered scan, not the corpus
    val candCapped = cappedBy(candDocs, id, hot1).persist()
    val pairs = Dedup.verifyJaccardArrays(candCapped, id, candidates, cfg.minJ)

    // Updated tables for append (lazy). newDf is the only place the
    // corpus df table is joined at corpus scale — a probe-only caller
    // never executes it.
    val newDf = corpusDf.withColumnRenamed("df", "cdf")
      .join(batchDf, Seq("shingle"), "full_outer")
      .select(col("shingle"),
        (coalesce(col("cdf"), lit(0L)) + coalesce(col("bdf"), lit(0L))).as("df"))
    cachedB ++= Seq(candidates, candCapped)
    Probe(pairs,
      newDocs = corpusDocs.unionByName(batchDocs),
      newDf = newDf,
      // hotarr in the probe IS the combined-df stop-shingle set of the
      // new version (df only grows, so hot = old-hot ∪ newly-hot)
      newHot = hot1.select(explode(col("hotarr")).as("shingle")),
      newBands = keptBands.unionByName(freshBands),
      cached = cachedB.result())
  }

  /** Near-dup pairs of `batch` against the indexed corpus (and within
    * itself): (a, b, jaccard), a < b, at least one side in the batch —
    * exactly [[Dedup.minhashIncremental]]'s output. Read-only: the
    * index is not modified (see [[appendToIndex]] / [[ingest]]). */
  def incrementalDupPairs(spark: SparkSession, dir: String, batch: DataFrame,
                          id: String, text: String,
                          cfg: Config = Config()): DataFrame =
    probe(spark, dir, latestVersion(spark, dir), batch, id, text, cfg).pairs

  /** [[incrementalDupPairs]] pinned to a specific committed version —
    * the REPLAY primitive: re-probing version v with the same batch
    * reproduces exactly the pairs the original ingest against v
    * emitted (probes are deterministic), without touching the index.
    * Streaming wrappers use this for at-least-once batch redelivery. */
  def incrementalDupPairsAt(spark: SparkSession, dir: String, version: Int,
                            batch: DataFrame, id: String, text: String,
                            cfg: Config = Config()): DataFrame = {
    requireLiveVersion(spark, dir, version)
    probe(spark, dir, version, batch, id, text, cfg).pairs
  }

  /** A version must be committed AND still on disk — a gc'd version
    * would otherwise pass the range check and fail later with a raw
    * parquet path error deep inside the probe. */
  private def requireLiveVersion(spark: SparkSession, dir: String,
                                 version: Int): Unit = {
    val latest = latestVersion(spark, dir)
    require(version >= 1 && version <= latest,
      s"version $version out of [1, $latest] at $dir")
    require(fs(spark, dir).exists(new Path(versionDir(dir, version))),
      s"version $version at $dir was dropped by gc (retainLast) — only " +
        "versions still on disk can be probed; raise retainLast if replay " +
        "needs deeper history")
    val base = baseOf(spark, dir, version)
    require(base == version ||
      fs(spark, dir).exists(new Path(versionDir(dir, base))),
      s"version $version at $dir references gc'd base version $base")
  }

  /** [[incrementalDupPairsAt]] with the ingest-style cache contract:
    * pairs are MATERIALIZED (persisted + counted) and the probe's
    * internal caches released before returning, so loop/streaming
    * replay callers don't pin one cache generation per replayed batch.
    * Callers must `unpersist()` the returned frame once consumed. */
  def replayDupPairsAt(spark: SparkSession, dir: String, version: Int,
                       batch: DataFrame, id: String, text: String,
                       cfg: Config = Config()): DataFrame = {
    requireLiveVersion(spark, dir, version)
    val p = probe(spark, dir, version, batch, id, text, cfg)
    val pairs = p.pairs.persist()
    pairs.count()
    p.done()
    pairs
  }

  /** Drop committed versions older than the last `retainLast` (their
    * directories and catalog table registrations) — EXCEPT a version
    * still referenced as the BASE of a retained tombstone version: its
    * docs/df/bands are that tombstone's physical tables and must
    * outlive it (they are reaped once an append/compact folds the
    * layer). Callers own the retention policy — replay of in-flight
    * streaming batches needs the previous version, so retainLast >= 2
    * there. Tables of retained versions are never touched. */
  def gc(spark: SparkSession, dir: String, retainLast: Int): Unit = {
    require(retainLast >= 1, s"retainLast must be >= 1: $retainLast")
    val latest = latestVersion(spark, dir)
    val f = fs(spark, dir)
    val referenced = (math.max(1, latest - retainLast + 1) to latest)
      .filter(v => f.exists(new Path(versionDir(dir, v))))
      .map(v => baseOf(spark, dir, v)).toSet
    (1 to latest - retainLast).filterNot(referenced).foreach { v =>
      f.delete(new Path(versionDir(dir, v)), true)
      dropHandles(spark, versionDir(dir, v))
      val t = bandsTableName(dir, v)
      try if (spark.catalog.tableExists(t)) spark.sql(s"DROP TABLE `$t`")
      catch { case scala.util.control.NonFatal(_) => }
    }
  }

  /** Fold `batch` into the index: writes version n+1 (docs ∪ batch,
    * combined df, bands with the newly-hot recompute applied) and flips
    * LATEST. Returns the new version. After this, the index state is
    * IDENTICAL to [[build]] over corpus ∪ batch (asserted table-for-
    * table in IndexSpec) — appends never drift from a fresh build. */
  def appendToIndex(spark: SparkSession, dir: String, batch: DataFrame,
                    id: String, text: String,
                    cfg: Config = Config()): Int = {
    val v = latestVersion(spark, dir)
    VersionedLayout.withClaim(spark, dir, v + 1, FormatVersion, "MinhashIndex") {
      val p = probe(spark, dir, v, batch, id, text, cfg)
      writeVersionTables(spark, dir, v + 1, p, cfg)
      p
    }.done() // append materialized everything — release the probe caches
    v + 1
  }

  /** Write version `v1`'s four tables + bucketed bands (warm derives
    * from the just-written df parquet — one cheap filtered re-scan
    * instead of re-executing the corpus-scale df merge). */
  private def writeVersionTables(spark: SparkSession, dir: String, v1: Int,
                                 p: Probe, cfg: Config): Unit = {
    // MinhashIndex writes its physical tables directly under the
    // version dir (no fenced segment names like the LSM siblings), so
    // the lease re-check before the batch of shared-path writes is the
    // whole fencing story here — see VersionedLayout's protocol doc
    VersionedLayout.fenceCheck(spark, dir, v1, "MinhashIndex")
    val vd = versionDir(dir, v1)
    p.newDocs.write.mode("overwrite").parquet(s"$vd/docs")
    p.newDf.write.mode("overwrite").parquet(s"$vd/df")
    p.newHot.write.mode("overwrite").parquet(s"$vd/hot")
    ParquetFooters.read(spark, s"$vd/df").filter(col("df") > warmThreshold(cfg))
      .write.mode("overwrite").parquet(s"$vd/warm")
    Bucketing.writeBucketedAt(p.newBands, bandsTableName(dir, v1),
      cfg.nBuckets, Seq("band", "bucket"), s"$vd/bands")
  }

  /** Probe + append in one pass (the continuous-ingest loop body): the
    * returned pairs are materialized BEFORE the new version commits, so
    * a crash mid-ingest never leaves pairs emitted against an index
    * that doesn't contain them. The returned frame is PERSISTED (that
    * is what pins the pre-commit materialization); loop callers must
    * `unpersist()` it once consumed — [[graft.streaming.Streams
    * .nearDupStreamIndexed]] does — or each iteration pins a cache
    * generation. */
  /**
   * Remove `ids` from the index in a new TOMBSTONE version — the
   * retirement / right-to-erasure face of continuous ingest. EXACT:
   * probes at the new version are pair-identical to
   * [[Dedup.minhashIncremental]] over corpus-minus-deleted (the masked
   * views run through the same kernels end to end; the hot/warm stop-
   * shingle state is corrected precisely), spec-pinned in IndexSpec.
   * Pinned probes at older versions replay unchanged.
   *
   * Cost model (the LSM shape of the IvfIndex/TermIndex siblings):
   * everything written is delete-batch-or-smaller — a cumulative dead-
   * id list, a cumulative df correction computed from the dead docs'
   * OWN stored shingle arrays, the corrected hot/warm slices (derived
   * from the previous warm slice + this delete's delta; hot/warm only
   * shrink under deletes, so no df scan is needed), and, rarely, the
   * recomputed band rows of live docs whose capped set grew because a
   * shingle fell back under the df cap. The corpus docs/df/bands
   * tables are NOT rewritten; the next [[appendToIndex]]/[[ingest]]/
   * [[compact]] folds the tombstone layer physically.
   */
  def deleteFromIndex(spark: SparkSession, dir: String, ids: DataFrame,
                      id: String, cfg: Config = Config()): Int = {
    val v = latestVersion(spark, dir)
    VersionedLayout.withClaim(spark, dir, v + 1, FormatVersion, "MinhashIndex") {
      val vd = versionDir(dir, v)
      val vd1 = versionDir(dir, v + 1)
      val base = baseOf(spark, dir, v)
      val st = liveState(spark, dir, v, id, cfg)
      val dels = broadcast(
        ids.select(col(ids.columns.head).as("__tomb_id")).distinct()).persist()
      // dead docs' per-shingle df contribution, from LIVE docs only (an
      // absent or already-deleted id contributes nothing) — computed off
      // the stored arrays, dead-batch-sized
      val delta = st.docs.join(dels, col(id) === col("__tomb_id"), "left_semi")
        .select(explode(col("sharr")).as("shingle"))
        .groupBy("shingle").agg(count(lit(1)).as("ddf")).persist()
      // cumulative tombstone layer relative to the SAME base version
      val tombOld = if (base == v) None
        else Some(cachedRead(spark, s"$vd/tomb"))
      tombOld.fold(dels.toDF())(_.unionByName(dels)).distinct()
        .write.mode("overwrite").parquet(s"$vd1/tomb")
      val dfnegOld = if (base == v) None
        else Some(cachedRead(spark, s"$vd/dfneg"))
      dfnegOld.fold(delta.toDF())(_.unionByName(delta))
        .groupBy("shingle").agg(sum("ddf").as("ddf"))
        .write.mode("overwrite").parquet(s"$vd1/dfneg")
      // hot/warm correct EXACTLY from the previous warm slice: df only
      // shrinks under deletes, so no shingle can enter either slice, and
      // every member's corrected value is (previous warm df) − (this
      // delete's delta) — small ⋈ small, never a df scan
      val warmCorr = cachedRead(spark, s"$vd/warm")
        .join(broadcast(delta), Seq("shingle"), "left_outer")
        .select(col("shingle"),
          (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
      warmCorr.filter(col("df") > warmThreshold(cfg))
        .write.mode("overwrite").parquet(s"$vd1/warm")
      ParquetFooters.read(spark, s"$vd1/warm")
        .filter(col("df") > cfg.maxShingleDf).select("shingle")
        .write.mode("overwrite").parquet(s"$vd1/hot")
      // shingles that fell back UNDER the cap (tiny: subset of the old
      // hot set): live docs containing one regain it in their capped
      // sets — recompute exactly their band rows into the overlay
      val unHotArr = cachedRead(spark, s"$vd/hot")
        .join(ParquetFooters.read(spark, s"$vd1/hot"), Seq("shingle"), "left_anti")
        .collect().map(_.getString(0)).toSeq
      val liveDocs = st.docs.join(dels, col(id) === col("__tomb_id"), "left_anti")
      val overlayOld = st.overlay.map(
        _.join(dels, col(id) === col("__tomb_id"), "left_anti"))
      if (unHotArr.isEmpty)
        overlayOld.foreach(
          _.write.mode("overwrite").parquet(s"$vd1/bandfix"))
      else {
        val aff = liveDocs
          .filter(arrays_overlap(col("sharr"),
            array(unHotArr.map(lit): _*))).persist()
        val hot1 = asOneRowArray(
          ParquetFooters.read(spark, s"$vd1/hot"), "hotarr")
        val recomputed = bandsOf(cappedBy(aff, id, hot1), id, cfg)
        val kept = overlayOld.map(
          _.join(broadcast(aff.select(col(id))), Seq(id), "left_anti"))
        kept.fold(recomputed)(_.unionByName(recomputed))
          .write.mode("overwrite").parquet(s"$vd1/bandfix")
        aff.unpersist()
      }
      atomicWrite(fs(spark, dir), new Path(vd1, "BASE"), base.toString)
      // every table is written — the probe-support caches can go before
      // the flip (a failed flip releases them all the same)
      dels.unpersist(); delta.unpersist()
    }
    v + 1
  }

  /** Fold the live tombstone layer physically into a new version —
    * masked docs/df, corrected hot/warm, masked+overlay bands — so the
    * tombstones retire and [[gc]] can reap the base once unreferenced.
    * No-op (returns the current version) when nothing is masked.
    * Corpus-sized by nature, like the siblings' maintenance compact;
    * appends fold implicitly, so this exists for delete-heavy periods
    * with no ingest. */
  def compact(spark: SparkSession, dir: String,
              cfg: Config = Config()): Int = {
    val v = latestVersion(spark, dir)
    if (baseOf(spark, dir, v) == v) return v
    VersionedLayout.withClaim(spark, dir, v + 1, FormatVersion, "MinhashIndex") {
      val st = liveState(spark, dir, v, idColOf(spark, dir, v), cfg)
      val vd = versionDir(dir, v)
      val vd1 = versionDir(dir, v + 1)
      st.docs.write.mode("overwrite").parquet(s"$vd1/docs")
      st.df.write.mode("overwrite").parquet(s"$vd1/df")
      cachedRead(spark, s"$vd/hot")
        .write.mode("overwrite").parquet(s"$vd1/hot")
      cachedRead(spark, s"$vd/warm")
        .write.mode("overwrite").parquet(s"$vd1/warm")
      val folded = st.overlay.fold(st.bands)(st.bands.unionByName(_))
      Bucketing.writeBucketedAt(folded, bandsTableName(dir, v + 1),
        cfg.nBuckets, Seq("band", "bucket"), s"$vd1/bands")
    }
    v + 1
  }

  /** The id column name of a version's docs table (its first column —
    * docs are written as (id, sharr)). */
  private def idColOf(spark: SparkSession, dir: String, v: Int): String =
    cachedRead(spark,
      s"${versionDir(dir, baseOf(spark, dir, v))}/docs").columns.head

  /** Replace `batch`'s docs (tombstone any existing copies, then
    * ingest the new texts, emitting the probe pairs) — the upsert face
    * of this index family. Two version commits, but the first is the
    * cheap tombstone write and the second folds it physically; a crash
    * between them leaves the delete applied and the ingest
    * retryable. */
  def replaceInIndex(spark: SparkSession, dir: String, batch: DataFrame,
                     id: String, text: String,
                     cfg: Config = Config()): DataFrame = {
    deleteFromIndex(spark, dir, batch.select(col(id)), id, cfg)
    ingest(spark, dir, batch, id, text, cfg)
  }

  def ingest(spark: SparkSession, dir: String, batch: DataFrame,
             id: String, text: String, cfg: Config = Config()): DataFrame = {
    val v = latestVersion(spark, dir)
    val (p, pairs) = VersionedLayout.withClaim(spark, dir, v + 1,
      FormatVersion, "MinhashIndex") {
      val p = probe(spark, dir, v, batch, id, text, cfg)
      val pairs = p.pairs.persist()
      pairs.count() // materialize against v before v+1 commits
      writeVersionTables(spark, dir, v + 1, p, cfg)
      (p, pairs)
    }
    // pairs are materialized; release the probe caches so a continuous
    // ingest loop doesn't accumulate one cache generation per batch
    p.done()
    pairs
  }
}
