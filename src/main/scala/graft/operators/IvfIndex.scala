package graft.operators

import scala.jdk.CollectionConverters._

import graft.functions.VectorExpressions.{dotF, normF}
import graft.io.ParquetFooters
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Persisted IVF (inverted-file) ANN index with INCREMENTAL ingest —
 * the embedding-side sibling of [[MinhashIndex]]: a production
 * embedding pipeline appends vectors continuously, and rebuilding the
 * whole inverted file per batch ([[Similarity.buildIvfIndex]]'s
 * build-once contract) is corpus-sized work for batch-sized input.
 * (Reference analogue: the partial-reuse discipline of
 * /root/reference/cache.go:51-66 / exec/compile.go:344-368 — persisted
 * state answers what it can; only the delta is recomputed.)
 *
 * Layout (`dir/` on any Hadoop filesystem):
 * {{{
 *   latest/, FORMAT       monotonic version pointer files + layout revision
 *   segments/s00002/      one parquet dataset per append, PARTITIONED
 *                         BY list_id (immutable; shared by versions);
 *                         a batch under smallRowsPerList×nList rows is
 *                         instead ONE unpartitioned file with list_id
 *                         as a data column (self-describing — readers
 *                         apply the same list_id filter either way)
 *   segments/r00005/      a COMPACTION segment: retrain-triggered
 *                         (re-clustered; replaces ALL prior segments)
 *                         or size-triggered (tiered; folds the small
 *                         `s` segments, prior `r` segments are kept)
 *   segments/t00007/      a SPLIT segment: the drift guard's rewrite
 *                         of hot lists' live rows under the extended
 *                         centroid array (folds like an `s` segment)
 *   tombs/d00004/         id-list parquet written by delete/upsert:
 *                         masks matching ids in STRICTLY older
 *                         segments until a compaction folds them away
 *   v00001/centroids.txt  this version's centroids (driver metadata)
 *   v00001/segments.txt   the segment names this version reads
 *   v00001/counts.txt     per-list vector counts (drives the drift
 *                         guard; an upper bound while tombstones are
 *                         outstanding)
 *   v00001/tombstones.txt the tombstone datasets this version masks
 *                         with (absent = none)
 * }}}
 *
 * Append = assign the batch to the EXISTING centroids, write ONE
 * batch-sized segment, extend the manifest, flip LATEST — per-append
 * I/O and compute are proportional to the batch, never the corpus
 * (plan-asserted in IvfIndexSpec: probes read only probed `list_id=`
 * directories of manifest segments). Versions are immutable and the
 * LATEST flip is atomic, so a crashed append leaves the index
 * untouched and the retry overwrites the orphan segment cleanly.
 *
 * THE drift guard (what keeps appended indexes honest at 100 TB):
 * frozen centroids slowly stop fitting a drifting embedding
 * distribution — lists go lopsided, probes read ever-larger fractions
 * of the corpus, recall/latency degrade silently. Each append checks
 * the merged per-list counts; when a list exceeds `maxImbalance ×`
 * the mean, the append SPLITS it locally: sub-centroids train over
 * the hot lists' rows alone, append to the centroid array (positions
 * are list ids — existing segments stay valid untouched), and only
 * the hot lists' live rows rewrite. O(hot mass) ≈ O(batch) for
 * churn-induced skew, never O(corpus) — the corpus-sized global
 * rebalance is [[retrain]], the explicitly-scheduled maintenance job.
 */
object IvfIndex {

  /** Index parameters — part of the index's identity (like a schema);
    * must match between build and append. `maxImbalance` and
    * `maxSegments` tune only WHEN re-clustering/compaction happen,
    * not what queries return.
    *
    * `smallRowsPerList` (NOT identity — each segment's layout is
    * self-describing): an append whose batch lands fewer than
    * `smallRowsPerList × nList` rows writes ONE unpartitioned file
    * with `list_id` as a data column instead of a `list_id=`-
    * partitioned dataset. After a √n retrain the list count — and
    * with it the per-commit cost of a partitioned write, which is
    * O(nList) directories/files/footers regardless of data volume —
    * grows as √corpus, so a CDC stream of constant-size batches paid
    * √n per commit for slivers of a few rows per directory (measured
    * 1.0–1.6 s/commit at nList=16 vs 10.5–23 s at nList=708 for the
    * SAME 10k-row batch and corpus). Probes read small segments with
    * the same `list_id IN (…)` predicate (the write sorts by list_id,
    * so row-group stats prune instead of directory pruning — the
    * segment is batch-sized, so even a full read is cheaper than the
    * fan-out was), and a big-enough fold/re-cluster migrates the rows
    * into the partitioned layout. The SAME threshold governs folds:
    * with it set low, a constant-size CDC stream re-entered the
    * fan-out at FOLD granularity after a √n retrain (every
    * maxSegments-th commit folded ~3 batches into nList directories
    * of sliver files — amortized √corpus per commit, the exact shape
    * the small layout exists to kill). The default — 256 rows per
    * list before partitioning pays — makes a partitioned write's
    * per-list files at least row-group-sized; below that, sorted
    * row-group pruning reads the same bytes without the O(nList)
    * file/footer tax. 0 disables (every segment partitioned). */
  /** `tombMaxBytes`: byte budget for RETAINED tombstone datasets —
    * when exceeded at a fold commit, the fold escalates to a FULL
    * merge so every tombstone applies physically and retires. Bounds
    * probe-side tombstone state by the budget instead of corpus
    * lifetime at an amortized O(1) cost per churned row (the
    * DigestIndex sibling's policy; see its Config doc for the
    * argument). */
  final case class Config(dim: Int, nList: Int = 16, iters: Int = 2,
                          maxImbalance: Double = 4.0, maxSegments: Int = 8,
                          pq: Option[PqConfig] = None,
                          smallRowsPerList: Int = 256,
                          tombMaxBytes: Long = 64L * 1024 * 1024)

  /** Optional product-quantization refinement layer (IVF-PQ): segments
    * additionally carry an m-byte `codes` column + stored exact norm,
    * and probes ADC-score that narrow stream instead of reading full
    * vectors — at 100 TB the probe's pruned-partition read drops from
    * 4·dim B/row to m+8 B/row (columnar pruning; the vector column is
    * only read for the ≤ queries·k·refine re-rank candidates, with
    * their ids pushed into the scan). Fixed at build time, part of the
    * index identity like `dim` (the re-rank pool `refine` is a
    * query-time knob on [[topKAt]], like `nProbe`).
    * `trainSampleFraction` trains codebooks on a deterministic hash
    * sample of the corpus ([[Pq.trainBooks]]) — a training knob, not
    * index identity: any books decode any rows they encoded. */
  final case class PqConfig(m: Int = 8, ksub: Int = 32,
                            trainSampleFraction: Option[Double] = None)

  /** √n list-count target shared by the drift-guard re-cluster and
    * [[retrain]]: max(cfg.nList, ceil(√rows)), clamped to the row
    * count — the row-count clamp wins over the configured floor when
    * rows < cfg.nList (an index cannot have more lists than rows). */
  private def targetNList(cfgNList: Int, rows: Long): Int =
    math.min(math.max(cfgNList.toLong,
      math.ceil(math.sqrt(rows.toDouble)).toLong), math.max(1L, rows)).toInt

  private val FormatVersion = 1

  import VersionedLayout.{fs, versionDir, withClaim}

  def exists(spark: SparkSession, dir: String): Boolean =
    VersionedLayout.exists(spark, dir)

  def latestVersion(spark: SparkSession, dir: String): Int =
    VersionedLayout.latestVersion(spark, dir, FormatVersion, "IvfIndex")

  private def segPath(dir: String, name: String): String =
    s"${dir.stripSuffix("/")}/segments/$name"

  private def tombPath(dir: String, name: String): String =
    s"${dir.stripSuffix("/")}/tombs/$name"

  /** Commit sequence encoded in a segment/tombstone name (s00007 /
    * r00007 / d00007 → 7; a fence-suffixed s00007x1 — written under a
    * stolen claim generation, see [[VersionedLayout.fence]] — also
    * → 7). A tombstone masks ids only in segments with a STRICTLY
    * smaller sequence — a row (re-)written in the same or a later
    * commit (upsert, re-add, compaction) survives it. */
  private def nameSeq(name: String): Int =
    name.drop(1).takeWhile(_.isDigit).toInt

  // ------------------------------------------------------------------
  // Manifest (per-version driver metadata: centroids, segment list,
  // per-list counts).
  // ------------------------------------------------------------------

  private def writeManifest(spark: SparkSession, dir: String, v: Int,
                            cents: Array[Array[Double]], segs: Seq[String],
                            counts: Map[Int, Long],
                            tombs: Seq[String] = Seq.empty,
                            frozen: Set[Int] = Set.empty): Unit = {
    // manifest files live at shared (unfenced) paths — rename-based
    // fenced commits (lease re-verified AFTER each content write), so
    // a writer paused mid-write across a steal aborts without touching
    // the new owner's files
    val vd = versionDir(dir, v)
    def w(name: String, content: String): Unit =
      VersionedLayout.fencedWrite(spark, dir, v, "IvfIndex",
        new Path(vd, name), content)
    w("centroids.txt", cents.map(_.mkString(",")).mkString("\n"))
    w("segments.txt", segs.mkString("\n"))
    w("counts.txt",
      counts.toSeq.sorted.map { case (l, c) => s"$l,$c" }.mkString("\n"))
    if (tombs.nonEmpty) w("tombstones.txt", tombs.mkString("\n"))
    if (frozen.nonEmpty) w("frozen.txt", frozen.toSeq.sorted.mkString("\n"))
  }

  /** Lists the drift guard must not re-split: a prior split failed to
    * spread their mass (k-means cannot separate identical vectors, and
    * tied assignments all pick the lowest centroid index) — re-splitting
    * every commit would pay O(list mass) forever for nothing. Cleared
    * by [[retrain]], whose fresh global clustering re-evaluates
    * everything. Absent file (pre-split manifests) = none. */
  private[graft] def readFrozen(spark: SparkSession, dir: String,
                                v: Int): Set[Int] = {
    val p = new Path(versionDir(dir, v), "frozen.txt")
    VersionedLayout.fencedReadOpt(fs(spark, dir), p) match {
      case None => Set.empty
      case Some(s) =>
        if (s.isEmpty) Set.empty else s.split("\n").map(_.toInt).toSet
    }
  }

  /** Tombstone datasets a version masks with (absent file = none —
    * pre-delete manifests stay readable unchanged). */
  private[graft] def readTombstones(spark: SparkSession, dir: String,
                                    v: Int): Seq[String] = {
    val p = new Path(versionDir(dir, v), "tombstones.txt")
    VersionedLayout.fencedReadOpt(fs(spark, dir), p) match {
      case None => Seq.empty
      case Some(s) => if (s.isEmpty) Seq.empty else s.split("\n").toSeq
    }
  }

  private[graft] def readCentroids(spark: SparkSession, dir: String,
                                   v: Int): Array[Array[Double]] =
    VersionedLayout.fencedRead(fs(spark, dir),
        new Path(versionDir(dir, v), "centroids.txt"))
      .split("\n").map(_.split(",").map(_.toDouble))

  private[graft] def readSegments(spark: SparkSession, dir: String,
                                  v: Int): Seq[String] = {
    val s = VersionedLayout.fencedRead(fs(spark, dir),
      new Path(versionDir(dir, v), "segments.txt"))
    if (s.isEmpty) Seq.empty else s.split("\n").toSeq
  }

  /** PQ codebooks for a version, if this is an IVF-PQ index. Format:
    * header "m ksub dsub", then m·ksub comma-separated rows in
    * (subspace-major, entry) order. Frozen like the centroids; the
    * maintenance [[retrain]] — the one path that rewrites EVERY row —
    * retrains them alongside. */
  private def writeBooks(spark: SparkSession, dir: String, v: Int,
                         books: graft.functions.PqBooks): Unit =
    VersionedLayout.fencedWrite(spark, dir, v, "IvfIndex",
      new Path(versionDir(dir, v), "pqbooks.txt"),
      s"${books.m} ${books.ksub} ${books.dsub}\n" +
        books.books.flatMap(_.map(_.mkString(","))).mkString("\n"))

  private[graft] def readBooks(spark: SparkSession, dir: String,
                               v: Int): Option[graft.functions.PqBooks] = {
    val p = new Path(versionDir(dir, v), "pqbooks.txt")
    VersionedLayout.fencedReadOpt(fs(spark, dir), p) match {
      case None => None
      case Some(raw) =>
      val lines = raw.split("\n")
      val Array(m, ksub, _) = lines.head.split(" ").map(_.toInt)
      val flat = lines.tail.map(_.split(",").map(_.toDouble))
      Some(new graft.functions.PqBooks(
        Array.tabulate(m, ksub)((s, j) => flat(s * ksub + j))))
    }
  }

  private[graft] def readCounts(spark: SparkSession, dir: String,
                                v: Int): Map[Int, Long] = {
    val s = VersionedLayout.fencedRead(fs(spark, dir),
      new Path(versionDir(dir, v), "counts.txt"))
    if (s.isEmpty) Map.empty
    else s.split("\n").map { l =>
      val Array(k, c) = l.split(","); k.toInt -> c.toLong
    }.toMap
  }

  // ------------------------------------------------------------------
  // Build / append / query / gc
  // ------------------------------------------------------------------

  /** Assign `df` to `cents` (broadcast literals — one streaming stage),
    * write a segment partitioned by list_id, and return the per-list
    * counts of what was COMMITTED (read back from the written files, so
    * the manifest always reflects on-disk truth). Counts are nList-row
    * driver metadata, same class as the centroids. */
  private def writeSegment(df: DataFrame, id: String, vec: String,
                           cents: Array[Array[Double]], cfg: Config,
                           path: String,
                           books: Option[graft.functions.PqBooks],
                           partitioned: Boolean = true,
                           preAssigned: Option[DataFrame] = None)
      : Map[Int, Long] = {
    // preAssigned: a frame already carrying list_id for THESE
    // centroids (the append path's cached assignment) — skips the
    // re-assignment and, more importantly, the re-materialization of
    // the caller's batch lineage
    val base = preAssigned.getOrElse(Similarity.assignLists(
      df.select(col(id), col(vec)), id, vec, cfg.dim, cents))
    // IVF-PQ: codes + stored exact norm ride IN the segment parquet —
    // columnar pruning means vector-reading consumers pay nothing for
    // them, and the ADC probe pass reads ONLY these narrow columns
    val assigned = books match {
      case Some(b) =>
        val bc = Pq.booksBroadcast(b)
        base.withColumn("codes", Pq.encodeF(col(vec), bc))
          .withColumn("pnorm", normF(col(vec)))
      case None => base
    }
    // one file per list dir (repartition on the partition column):
    // without it every task writes a sliver into every list_id= dir
    // and the pruned probe scan goes file-bound as segments accumulate.
    // Small batches skip the fan-out entirely (see Config
    // .smallRowsPerList): one file, list_id as a data column — readers
    // filter it identically either way.
    if (partitioned)
      assigned.repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(path)
    else
      // sorted by list_id so the one file's row-group min/max stats
      // prune under the probe's `list_id IN (…)` data filter — the
      // small layout's answer to directory pruning
      assigned.repartition(1).sortWithinPartitions("list_id")
        .write.mode("overwrite").parquet(path)
    // read back with the EXPLICIT schema: an empty batch writes no data
    // files and schema inference would throw, but an ingest loop must
    // tolerate quiet-period batches
    df.sparkSession.read.schema(assigned.schema).parquet(path)
      .groupBy(col("list_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** Train centroids (and PQ codebooks, if configured) over `corpus`
    * and commit v1 (one segment). */
  def build(spark: SparkSession, corpus: DataFrame, id: String, vec: String,
            dir: String, cfg: Config): Unit = {
    VersionedLayout.withClaim(spark, dir, 1, FormatVersion, "IvfIndex") {
      val cents = Similarity.trainCentroids(corpus, id, vec, cfg.dim,
        cfg.nList, cfg.iters)
      require(cents.nonEmpty, "IvfIndex.build needs a non-empty corpus")
      val books = cfg.pq.map(p =>
        Pq.trainBooks(corpus, id, vec, cfg.dim, p.m, p.ksub, cfg.iters,
          p.trainSampleFraction))
      // the initial corpus is compaction-class by construction: naming
      // it `r` keeps it OUT of the batch-tier s-folds (the first fold
      // would otherwise sweep the whole corpus into its r) and under
      // the size-matched r-merge rule from the start
      val seg = "r00001" + VersionedLayout.fence(dir, 1)
      val counts = writeSegment(corpus, id, vec, cents, cfg, segPath(dir, seg),
        books)
      writeManifest(spark, dir, 1, cents, Seq(seg), counts)
      books.foreach(writeBooks(spark, dir, 1, _))
    }
  }

  /**
   * Fold `batch` into the index: one batch-sized segment against the
   * current centroids, plus a local split of any list the drift guard
   * flags (sub-centroids appended, hot rows rewritten — O(hot mass),
   * never a corpus re-cluster). Returns the committed version.
   * Single-writer (like [[MinhashIndex]]): appends are serialized by
   * the caller.
   */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             id: String, vec: String, cfg: Config): Int =
    appendImpl(spark, dir, batch, id, vec, cfg,
      tombBatch = false, delIds = None)

  /**
   * Append `batch` AND tombstone its ids in one atomic commit — the
   * update face of continuous ingest (a changed document re-embeds;
   * the stale vector must stop answering probes). The tombstone's
   * commit sequence masks only STRICTLY older segments, so the new
   * rows written in this same commit survive it, as does any future
   * re-add. Compactions apply live tombstones physically to the
   * segments they fold (and [[retrain]], which rewrites every row,
   * retires them all); between compactions the masked rows sit in
   * immutable old segments and `counts.txt` is an upper bound — which
   * only makes the drift guard fire earlier, never later, and whose
   * phantom mass purges at every split (hot lists recount) and every
   * mergeAll fold (global recount).
   */
  def upsert(spark: SparkSession, dir: String, batch: DataFrame,
             id: String, vec: String, cfg: Config): Int =
    appendImpl(spark, dir, batch, id, vec, cfg,
      tombBatch = true, delIds = None)

  /** Apply one CDC batch — upserts (re-embedded ids) AND deletes — in
    * ONE atomic commit: a single tombstone masks every strictly-older
    * copy of both sets, the new segment carries only the upserted
    * rows. The one-commit shape is what a streaming CDC wrapper needs
    * for exactly-once batch↔version pairing
    * ([[graft.streaming.Streams.cdcStreamIndexed]]). An id in BOTH
    * frames resolves delete-wins: its upsert row is dropped before the
    * segment write (a same-commit row would otherwise outlive its own
    * delete, since the tombstone masks only strictly-older segments). */
  def applyCdc(spark: SparkSession, dir: String, upserts: DataFrame,
               deletes: DataFrame, id: String, vec: String,
               cfg: Config): Int = {
    val delIds = deletes.select(col(deletes.columns.head).as(id))
    val live = upserts.join(broadcast(delIds), Seq(id), "left_anti")
    appendImpl(spark, dir, live, id, vec, cfg,
      tombBatch = true, delIds = Some(delIds))
  }

  /**
   * Tombstone `ids` (one column dataset, any size) in a new version:
   * probes at or after this version never return them; pinned probes
   * at older versions still do (replay-safe). Physical removal happens
   * at the next compaction that folds the segments holding them; until
   * then deletes cost one id-list parquet write, never a segment
   * rewrite. Deletes are expected ≪ corpus, so probe-side masking is a
   * broadcast anti-join on the id column. Ids the index never held are
   * NOT filtered out (that liveness check would scan the corpus id
   * column; TermIndex affords it only via its narrow doc stats) — a
   * ghost tombstone masks nothing and retires at the next compaction.
   */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String): Int = {
    val v = latestVersion(spark, dir)
    withClaim(spark, dir, v + 1, FormatVersion, "IvfIndex") {
      val dName = f"d${v + 1}%05d${VersionedLayout.fence(dir, v + 1)}"
      ids.select(col(idCol).as("id")).distinct()
        .write.mode("overwrite").parquet(tombPath(dir, dName))
      val n = ParquetFooters.count(spark, tombPath(dir, dName))
      val tombs = readTombstones(spark, dir, v)
      writeManifest(spark, dir, v + 1, readCentroids(spark, dir, v),
        readSegments(spark, dir, v), readCounts(spark, dir, v),
        if (n == 0) tombs else tombs :+ dName,
        readFrozen(spark, dir, v))
      readBooks(spark, dir, v).foreach(writeBooks(spark, dir, v + 1, _))
    }
    v + 1
  }

  /** Union of tombstone datasets as (t_id, t_seq, t_list) — None when
    * empty. `d` datasets carry one id column (sequence = the name,
    * list-global: t_list null). `e` datasets — a split's mask of the
    * hot lists' old copies — carry (id, list_id) pairs and are
    * LIST-SCOPED: they mask only the copy in the list the split
    * actually rewrote, so a duplicate id's live copy in a NON-hot list
    * of an older segment (possible via plain append of a duplicate id)
    * survives the split unmasked, exactly as the pre-split state held
    * it. `c` datasets are COALESCED — (id, [list_id,] seq) rows, the
    * max sequence per (id, scope) over the datasets a fold folded
    * together (exact, not just sound: a row of id x in list l at
    * seg_seq g is masked iff any global tombstone of x or any (x, l)
    * tombstone has seq > g, and per-scope max-seq preserves that
    * predicate verbatim). Folds coalesce so a churn stream's
    * tombstone-dataset COUNT — and the probe-side broadcast — stays
    * bounded by distinct churned ids instead of growing one dataset
    * per commit while a kept base segment pins them all live. */
  private def tombFrame(spark: SparkSession, dir: String,
                        tombs: Seq[String]): Option[DataFrame] =
    if (tombs.isEmpty) None
    else Some(tombs.map { d =>
        val raw = ParquetFooters.read(spark, tombPath(dir, d))
        val scoped = raw.columns.contains("list_id")
        if (d.startsWith("c")) {
          if (scoped)
            raw.select(col("id").as("t_id"), col("seq").as("t_seq"),
              col("list_id").as("t_list"))
          else
            raw.select(col("id").as("t_id"), col("seq").as("t_seq"),
              lit(null).cast("int").as("t_list"))
        } else if (scoped)
          raw.select(col("id").as("t_id"), lit(nameSeq(d)).as("t_seq"),
            col("list_id").as("t_list"))
        else
          raw.select(col("id").as("t_id"), lit(nameSeq(d)).as("t_seq"),
            lit(null).cast("int").as("t_list"))
      }.reduce(_.unionByName(_)))

  /** The strictly-newer-tombstone mask predicate: a global tombstone
    * (t_list null) masks the id in every list; a list-scoped one masks
    * only its (id, list) copy. */
  private def tombMatch(idCol: Column): Column =
    idCol === col("t_id") && col("t_seq") > col("seg_seq") &&
      (col("t_list").isNull || col("t_list") === col("list_id"))

  /** Coalesce the retained tombstone datasets into ONE
    * (id, list_id, max seq) dataset when they have piled up — called
    * at fold commits, where the union is already being read anyway.
    * Grouped per (id, scope): a global and a list-scoped tombstone of
    * the same id stay separate rows (their mask predicates differ).
    * Returns the new tombstone name list. */
  private def coalesceTombs(spark: SparkSession, dir: String, v: Int,
                            tombs: Seq[String]): Seq[String] =
    if (tombs.length < 3) tombs
    else {
      val cName = f"c$v%05d${VersionedLayout.fence(dir, v)}"
      tombFrame(spark, dir, tombs).get
        .groupBy("t_id", "t_list").agg(max("t_seq").as("seq"))
        .select(col("t_id").as("id"), col("t_list").as("list_id"),
          col("seq"))
        .write.mode("overwrite").parquet(tombPath(dir, cName))
      Seq(cName)
    }

  /** On-disk bytes of the retained tombstone datasets — the
    * [[Config.tombMaxBytes]] escalation signal. */
  private def tombBytes(spark: SparkSession, dir: String,
                        tombs: Seq[String]): Long = {
    val f = fs(spark, dir)
    tombs.map { t =>
      val p = new Path(tombPath(dir, t))
      if (f.exists(p)) f.getContentSummary(p).getLength else 0L
    }.sum
  }

  /** Union of segments with per-row commit sequence, live rows only
    * (tombstones with a strictly greater sequence applied). */
  private def liveUnion(spark: SparkSession, dir: String, segs: Seq[String],
                        tombs: Seq[String], idCol: String): DataFrame = {
    val u = segs.map(s => ParquetFooters.read(spark, segPath(dir, s))
        .withColumn("seg_seq", lit(nameSeq(s))))
      .reduce(_.unionByName(_))
    tombFrame(spark, dir, tombs) match {
      case None => u.drop("seg_seq")
      case Some(t) => u.join(broadcast(t), tombMatch(col(idCol)),
          "left_anti").drop("seg_seq")
    }
  }

  /** Per-phase wall-clock attribution for the commit path, printed when
    * `graft.ivf.profile=true` — the ProfileChurn decomposition knob.
    * Costs nothing when off (one conf read per commit). */
  private def phased[T](spark: SparkSession, tag: String)(f: => T): T =
    if (spark.conf.getOption("graft.ivf.profile").contains("true")) {
      val t0 = System.nanoTime()
      val x = f
      println(f"    [ivf-phase] $tag%-22s ${(System.nanoTime() - t0) / 1e9}%7.3fs")
      x
    } else f

  private def appendImpl(spark: SparkSession, dir: String, batch: DataFrame,
                         id: String, vec: String, cfg: Config,
                         tombBatch: Boolean,
                         delIds: Option[DataFrame]): Int = {
    val v = latestVersion(spark, dir)
    withClaim(spark, dir, v + 1, FormatVersion, "IvfIndex") {
      val cents = readCentroids(spark, dir, v)
      require(cents.headOption.exists(_.length == cfg.dim),
        s"index at $dir has dim ${cents.headOption.map(_.length)}, cfg has ${cfg.dim}")
      // the PQ layer is part of the index identity, fixed at build time:
      // appending with a mismatched cfg would write segments the probe
      // path can't read uniformly
      val books = readBooks(spark, dir, v)
      require(books.isDefined == cfg.pq.isDefined,
        s"index at $dir ${if (books.isDefined) "has" else "lacks"} a PQ " +
          s"layer but cfg.pq is ${cfg.pq}")
      val segs = readSegments(spark, dir, v)
      val prev = readCounts(spark, dir, v)
      val tombsPrev = readTombstones(spark, dir, v)
      // data-path fence: names written under a stolen claim generation
      // carry its suffix, so a fenced-out previous owner (alive past
      // the TTL, still writing) can never clobber files THIS commit's
      // manifest will reference — see VersionedLayout's protocol doc
      val fx = VersionedLayout.fence(dir, v + 1)
      // segment name derived from the version it belongs to: a retry of
      // a crashed append overwrites its own orphan, never a committed
      // segment
      val segName = f"s${v + 1}%05d$fx"
      // ONE batch materialization per commit: the batch is assigned to
      // the current centroids and PERSISTED — the drift-guard
      // histogram, the tombstone id set, the split's hot-batch slice
      // and the segment write all read this frame instead of
      // re-computing the caller's batch lineage (an expensive upstream
      // — embedding extraction, a CDC anti-join — would otherwise be
      // paid 3-5× per commit; measured 2 s per re-materialization at
      // 50k on the stress corpus). Unpersisted in the finally below:
      // a transient write failure anywhere in the commit body must not
      // leak the cached blocks for the session's lifetime (withClaim
      // releases the claim and the caller retries — long-lived ingest
      // loops hit this).
      val assigned0 = Similarity.assignLists(
        batch.select(col(id), col(vec)), id, vec, cfg.dim, cents).persist()
      var hotOldH: Option[DataFrame] = None
      try {
      // per-list histogram read BEFORE anything is written (a
      // skew-tripping batch must be written against the EXTENDED
      // centroid array, not rewritten after the fact); its sum is the
      // row count the small-layout decision needs — no separate count
      val preCounts = phased(spark, "batch-assign") {
        assigned0.groupBy("list_id").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      }
      val batchRows = preCounts.values.sum
      // upsert/CDC: tombstone the batch ids (∪ the delete set) in the
      // SAME commit — sequence v+1 masks their copies in strictly
      // older segments, never the rows this commit writes. The live
      // batch ids come from the CACHED assigned frame.
      val dName = f"d${v + 1}%05d$fx"
      val nTomb =
        if (!tombBatch && delIds.isEmpty) 0L
        else phased(spark, "tombstone-write") {
          val batchIds =
            if (tombBatch) Some(assigned0.select(col(id).as("id"))) else None
          val dels = delIds.map(_.select(col(delIds.get.columns.head)
            .as("id")))
          (batchIds.toSeq ++ dels.toSeq).reduce(_.unionByName(_)).distinct()
            .write.mode("overwrite").parquet(tombPath(dir, dName))
          ParquetFooters.count(spark, tombPath(dir, dName))
        }
      val tombs = if (nTomb > 0) tombsPrev :+ dName else tombsPrev
      val mergedPre = (prev.keySet ++ preCounts.keySet).iterator
        .map(k => k -> (prev.getOrElse(k, 0L) + preCounts.getOrElse(k, 0L)))
        .toMap
      val totalPre = mergedPre.values.sum
      val cap = cfg.maxImbalance * totalPre.toDouble / cents.length
      val frozenPrev = readFrozen(spark, dir, v)
      val hot =
        if (mergedPre.isEmpty) Seq.empty[Int]
        else mergedPre.collect {
          case (l, c) if c > cap && !frozenPrev.contains(l) => l
        }.toSeq.sorted

      // ---- drift guard: LOCAL LIST SPLIT, not a corpus re-cluster.
      // The guard used to retrain + compact the FULL corpus — O(corpus)
      // for a batch-sized commit, measured 21 s per trip at 500k rows
      // (vs 1 s untripped) with an oscillating-churn workload tripping
      // it every other commit. Splitting only the offending lists is
      // the LSM-proportionate response: train sub-centroids over the
      // hot lists' rows alone (a partition-pruned read — list_id= dirs
      // for partitioned segments, sorted row-groups for small ones),
      // APPEND them to the centroid array (positions are list ids, so
      // existing segments stay valid untouched), rewrite only the hot
      // lists' live rows under the extended array, and mask their old
      // copies with a same-commit tombstone. O(hot mass) ≈ O(batch)
      // for churn-induced skew. The parent centroid keeps its slot (an
      // emptied list costs a probe nothing); [[retrain]] remains the
      // scheduled global rebalance that resets list count to √n.
      var centsW = cents
      var tName: Option[String] = None
      var tCounts = Map.empty[Int, Long]
      var eTomb: Option[String] = None
      var frozen = frozenPrev
      if (hot.nonEmpty) phased(spark, "list-split") {
        // live rows of the hot lists in STRICTLY OLDER segments. The
        // batch tombstone (dName, seq v+1) is already in `tombs`, so
        // batch ids' old copies are excluded here — the t-segment and
        // the s-segment can never hold the same id.
        val hotOld =
          if (segs.isEmpty) None
          else Some(liveUnion(spark, dir, segs, tombs, id)
            .filter(col("list_id").isin(hot: _*)).persist())
        hotOldH = hotOld
        val hotBatch = assigned0.filter(col("list_id").isin(hot: _*))
          .select(col(id), col(vec))
        val trainRows =
          (hotOld.map(_.select(col(id), col(vec))).toSeq :+ hotBatch)
            .reduce(_.unionByName(_))
        // sub-list count sized so each lands near the mean occupancy;
        // the histogram mass is an upper bound (phantom tombstoned rows
        // inflate it), which only over-provisions centroids slightly
        val meanTarget = math.max(1L, totalPre / cents.length)
        val k = math.min(
          math.max(2L, math.ceil(
            hot.map(mergedPre).sum.toDouble / meanTarget).toLong),
          math.max(2L, totalPre)).toInt
        val sub = Similarity.trainCentroids(trainRows, id, vec, cfg.dim,
          k, cfg.iters)
        centsW = cents ++ sub
        hotOld.foreach { ho =>
          val nOld = ho.count()
          if (nOld > 0) {
            val t = f"t${v + 1}%05d$fx"
            val e = f"e${v + 1}%05d$fx"
            // LIST-SCOPED mask: (id, list_id) pairs — exactly the
            // copies this split rewrites. A bare-id mask would also
            // silently drop a duplicate id's live copy sitting in a
            // NON-hot list of an older segment (reachable via plain
            // append of a duplicate id after a prior split extended
            // the centroid array), a behavior regression vs the old
            // full re-cluster, which preserved every live row.
            ho.select(col(id).as("id"), col("list_id")).distinct()
              .write.mode("overwrite").parquet(tombPath(dir, e))
            val smallT = cfg.smallRowsPerList > 0 &&
              nOld < cfg.smallRowsPerList.toLong * centsW.length
            tCounts = writeSegment(ho.select(col(id), col(vec)), id, vec,
              centsW, cfg, segPath(dir, t), books, partitioned = !smallT)
            tName = Some(t)
            eTomb = Some(e)
          }
        }
      }
      val tombsAll = tombs ++ eTomb

      // layout decision (appends only — build and every compaction/
      // retrain rewrite is corpus-sized and always partitions): a batch
      // too small to give each list a real file skips the O(nList)
      // directory fan-out, an order of magnitude per commit at
      // √n-retrained list counts.
      val small = cfg.smallRowsPerList > 0 &&
        batchRows < cfg.smallRowsPerList.toLong * centsW.length
      val bCounts = phased(spark, "segment-write") {
        // unchanged centroids → the cached assignment IS the segment
        // content; a split extended the array, so re-assign — but from
        // the cached frame, never the caller's lineage
        if (centsW eq cents)
          writeSegment(batch, id, vec, centsW, cfg, segPath(dir, segName),
            books, partitioned = !small, preAssigned = Some(assigned0))
        else
          writeSegment(assigned0.drop("list_id"), id, vec, centsW, cfg,
            segPath(dir, segName), books, partitioned = !small)
      }
      // a split whose sub-lists are STILL over the cap found an
      // irreducible mass (identical vectors tie-break to one centroid);
      // freeze them so the guard stops paying for splits that cannot
      // spread anything. retrain() clears the set.
      if (hot.nonEmpty) {
        val subRange = cents.length until centsW.length
        frozen = frozen ++ subRange.filter(l =>
          bCounts.getOrElse(l, 0L) + tCounts.getOrElse(l, 0L) > cap)
        // the parent lists just split: whatever stays was irreducible
        // too (nearest-centroid kept it against every sub-centroid)
        frozen = frozen ++ hot.filter(l =>
          bCounts.getOrElse(l, 0L) + tCounts.getOrElse(l, 0L) > cap)
      }
      // an empty batch leaves no segment behind: the manifest must not
      // reference a data-less directory (readers infer schemas from it)
      val newSegs = (if (bCounts.isEmpty) segs else segs :+ segName) ++ tName
      // manifest counts: read-back truth for the new segments; a split
      // PURGES the hot lists' accumulated phantom (tombstone-masked)
      // mass — their prior counts are dropped and replaced by what the
      // rewrite actually landed
      val base = if (hot.isEmpty) prev else prev -- hot
      val merged = Seq(bCounts, tCounts).foldLeft(base) { (m, add) =>
        (m.keySet ++ add.keySet).iterator
          .map(k => k -> (m.getOrElse(k, 0L) + add.getOrElse(k, 0L))).toMap
      }
      if (newSegs.length > cfg.maxSegments) {
        // SIZE-triggered compaction: a balanced workload never trips the
        // drift guard, so without this cap N appends = N segments = N
        // parquet datasets listed and unioned per probe — planner cost
        // and file listing growing forever. LSM stores compact on
        // segment count, not only on skew. Centroids are UNCHANGED, so
        // no retrain and no re-assignment: rows already carry their
        // list_id, the rewrite is one union → partitioned write, and
        // `merged` (derived from per-segment read-backs) already equals
        // on-disk truth. A crash before LATEST flips strands only the
        // r-segment, which the retry overwrites.
        //
        // TIERED, like an LSM store: the batch-sized `s`/`t` segments
        // fold into the new `r` segment; prior `r` segments are KEPT
        // until their own count trips the cap, and then only a
        // SIZE-MATCHED subset merges ([[VersionedLayout.tierMergeSet]]
        // — smallest two plus neighbors within 2× of the running
        // mass). The corpus-sized base r joins a merge only once the
        // newer tiers have accumulated comparable mass, so each row is
        // rewritten O(log n) times total and a constant-size churn
        // stream never pays an amortized corpus rewrite per fold cycle
        // (the old merge-ALL-r's policy cost O(corpus/maxSegments²)
        // per commit — linear in corpus for constant-size commits).
        val (rSegs, sSegs) = newSegs.partition(_.startsWith("r"))
        // tombstone byte budget (sibling policy, see Config): past it,
        // escalate to a full merge so every tombstone retires
        val escalate = tombsAll.nonEmpty &&
          tombBytes(spark, dir, tombsAll) > cfg.tombMaxBytes
        val rMerge: Set[String] =
          if (escalate) rSegs.toSet
          else if (rSegs.length < cfg.maxSegments) Set.empty
          else {
            val fsys = fs(spark, dir)
            VersionedLayout.tierMergeSet(rSegs.map(r =>
              r -> fsys.getContentSummary(new Path(segPath(dir, r)))
                .getLength))
          }
        val toMerge = sSegs ++ rSegs.filter(rMerge)
        val kept = rSegs.filterNot(rMerge)
        val mergeAll = kept.isEmpty
        if (spark.conf.getOption("graft.ivf.profile").contains("true"))
          println(s"    [ivf-phase] fold kind=${if (mergeAll) "mergeAll" else "s-fold"} " +
            s"toMerge=${toMerge.mkString(",")} tombs=${tombsAll.length}")
        val comp = f"r${v + 1}%05d$fx"
        // the fold output obeys the same rows-based layout rule as
        // appends: a fold of a few small segments is still sliver-sized
        // (an s-fold under a √n-retrained list count would pay the full
        // O(nList) fan-out for ~tens of rows per directory); such small
        // r-segments grow through r-with-r merges until they clear the
        // threshold and take the partitioned layout. Corpus-sized
        // rewrites (drift/maintenance retrain, compact) always partition.
        val folded = liveUnion(spark, dir, toMerge, tombsAll, id)
        val nFold = phased(spark, "fold-count")(folded.count())
        // every folded row tombstone-masked (e.g. a CDC stream deleted
        // the whole batch tier): SKIP the comp segment — the sibling
        // DigestIndex guard (nC == 0 drops comp); a data-less directory
        // in the manifest breaks reader schema inference
        if (nFold > 0) {
          val foldSmall = cfg.smallRowsPerList > 0 &&
            nFold < cfg.smallRowsPerList.toLong * centsW.length
          phased(spark, "fold-write") {
            if (foldSmall)
              folded.repartition(1)
                .write.mode("overwrite").parquet(segPath(dir, comp))
            else
              folded.repartition(col("list_id"))
                .write.mode("overwrite").partitionBy("list_id")
                .parquet(segPath(dir, comp))
          }
        }
        // rows carry their codes through the union untouched — frozen
        // books stay valid, so the merge never re-encodes. Tombstones
        // applied to the folded rows are retired unless a KEPT segment
        // is still older than them (r-segments keep their original
        // sequence; the new comp segment, at v+1, outranks every live
        // tombstone by the strictly-greater rule).
        val tombsKept = coalesceTombs(spark, dir, v + 1,
          tombsAll.filter(t => kept.exists(s => nameSeq(s) < nameSeq(t))))
        // a mergeAll folded EVERY segment and applied every tombstone
        // physically: recount the manifest from the committed fold —
        // this is the point that purges ALL accumulated phantom
        // (tombstone-masked) mass from the histogram, bounding how far
        // the drift guard's upper-bound signal can wander from the
        // live distribution (one inter-mergeAll window)
        val manifestCounts =
          if (nFold == 0) { if (mergeAll) Map.empty[Int, Long] else merged }
          else if (!mergeAll) merged
          else spark.read.schema(folded.schema).parquet(segPath(dir, comp))
            .groupBy("list_id").agg(count(lit(1)).as("n"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        writeManifest(spark, dir, v + 1, centsW,
          if (nFold == 0) kept else kept :+ comp,
          manifestCounts, tombsKept, frozen)
        books.foreach(writeBooks(spark, dir, v + 1, _))
      } else {
        writeManifest(spark, dir, v + 1, centsW, newSegs, merged, tombsAll,
          frozen)
        books.foreach(writeBooks(spark, dir, v + 1, _))
      }
      } finally {
        assigned0.unpersist(blocking = false)
        hotOldH.foreach(_.unpersist(blocking = false))
      }
    }
    v + 1
  }

  /**
   * Maintenance compaction: fold EVERY manifest segment — applying all
   * outstanding tombstones physically — into one fresh r-segment in a
   * new version. The reclaim step after a large delete (space and
   * probe-time masking both drop to zero immediately) without waiting
   * for the size trigger. Centroids and PQ books are unchanged; probes
   * before/after are pair-identical (spec-pinned).
   */
  /**
   * Maintenance retrain — the ONE corpus-sized rewrite: re-cluster
   * the live corpus (tombstones folded) at
   * nList = clamp(cfg.nList, ⌈√rows⌉, rows), retrain the PQ codebooks
   * if configured, re-encode, and commit ONE fresh r-segment. This is
   * the amortized job a continuous-ingest deployment schedules so
   * per-list candidate counts — and probe cost — stay O(√n) as the
   * corpus grows; between retrains every append stays batch-sized
   * against frozen centroids, with the drift guard's LOCAL splits
   * absorbing skew at O(hot mass). Retrain also clears the
   * frozen-list set (fresh clustering re-evaluates everything).
   * [[compact]] is the cheaper sibling that folds segments WITHOUT
   * re-clustering (frozen centroids, no re-assignment). Returns the
   * committed version.
   */
  def retrain(spark: SparkSession, dir: String, cfg: Config): Int = {
    val v = latestVersion(spark, dir)
    withClaim(spark, dir, v + 1, FormatVersion, "IvfIndex") {
      // same identity checks as appendImpl: a mismatched cfg must fail
      // loudly, not silently re-dimension the index or strip/invent its
      // PQ layer
      val cents0 = readCentroids(spark, dir, v)
      require(cents0.headOption.exists(_.length == cfg.dim),
        s"index at $dir has dim ${cents0.headOption.map(_.length)}, " +
          s"cfg has ${cfg.dim}")
      require(readBooks(spark, dir, v).isDefined == cfg.pq.isDefined,
        s"index at $dir ${if (readBooks(spark, dir, v).isDefined) "has"
          else "lacks"} a PQ layer but cfg.pq is ${cfg.pq}")
      val segs = readSegments(spark, dir, v)
      require(segs.nonEmpty, s"nothing to retrain at $dir")
      val schema = ParquetFooters.read(spark, segPath(dir, segs.head)).schema
      val (idCol, vecCol) = (schema.fields(0).name, schema.fields(1).name)
      val tombs = readTombstones(spark, dir, v)
      val all = liveUnion(spark, dir, segs, tombs, idCol)
        .select(col(idCol), col(vecCol)).persist()
      val total = all.count()
      require(total > 0,
        s"retrain would leave $dir empty (every row tombstoned) — " +
          "an empty index has no probe semantics; rebuild instead")
      val cents2 = Similarity.trainCentroids(all, idCol, vecCol, cfg.dim,
        targetNList(cfg.nList, total), cfg.iters)
      val books2 = cfg.pq.map(p =>
        Pq.trainBooks(all, idCol, vecCol, cfg.dim, p.m, p.ksub, cfg.iters,
          p.trainSampleFraction))
      val comp = f"r${v + 1}%05d${VersionedLayout.fence(dir, v + 1)}"
      val counts2 = writeSegment(all, idCol, vecCol, cents2, cfg,
        segPath(dir, comp), books2)
      all.unpersist(blocking = false)
      writeManifest(spark, dir, v + 1, cents2, Seq(comp), counts2)
      books2.foreach(writeBooks(spark, dir, v + 1, _))
    }
    v + 1
  }

  def compact(spark: SparkSession, dir: String): Int = {
    val v = latestVersion(spark, dir)
    withClaim(spark, dir, v + 1, FormatVersion, "IvfIndex") {
      val segs = readSegments(spark, dir, v)
      require(segs.nonEmpty, s"nothing to compact at $dir")
      val schema = ParquetFooters.read(spark, segPath(dir, segs.head)).schema
      val idCol = schema.fields.head.name
      val tombs = readTombstones(spark, dir, v)
      val comp = f"r${v + 1}%05d${VersionedLayout.fence(dir, v + 1)}"
      liveUnion(spark, dir, segs, tombs, idCol)
        .repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(segPath(dir, comp))
      val counts = spark.read.schema(schema).parquet(segPath(dir, comp))
        .groupBy(col("list_id")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      require(counts.nonEmpty,
        s"compact would leave $dir empty (every row tombstoned) — " +
          "an empty index has no probe semantics; rebuild instead")
      // frozen carries: compact keeps the same centroids, so a list
      // k-means couldn't spread is still unspreadable; retrain clears
      writeManifest(spark, dir, v + 1, readCentroids(spark, dir, v),
        Seq(comp), counts, Seq.empty, readFrozen(spark, dir, v))
      readBooks(spark, dir, v).foreach(writeBooks(spark, dir, v + 1, _))
    }
    v + 1
  }

  /** Manifest-derived index health — the operational dashboard stats a
    * continuous-ingest deployment watches. FROZEN lists are the ones
    * to alarm on: a frozen (irreducible — k-means cannot spread
    * identical vectors) list never splits again, so under adversarial
    * ingest (many identical-vector clumps) its mass grows without the
    * drift guard's help and every probe that lands on it scans the
    * full clump — probe cost on a frozen list is bounded by (and only
    * by) its mass, spec-pinned in IvfIndexSpec. `frozenMassFraction`
    * is therefore the health signal: when it grows past the tolerable
    * probe-latency budget, schedule [[retrain]] — the one remediation
    * that clears the frozen set (fresh global clustering re-evaluates
    * everything). Counts are the manifest's upper bounds (phantom
    * tombstone-masked mass included), same caveat as the drift guard's
    * own signal. */
  final case class Health(version: Int, segments: Int,
                          tombstoneDatasets: Int, lists: Int,
                          frozenLists: Int, totalMass: Long,
                          frozenMass: Long) {
    def frozenMassFraction: Double =
      if (totalMass == 0L) 0.0 else frozenMass.toDouble / totalMass
  }

  def health(spark: SparkSession, dir: String): Health = {
    val v = latestVersion(spark, dir)
    val counts = readCounts(spark, dir, v)
    val frozen = readFrozen(spark, dir, v)
    Health(v, readSegments(spark, dir, v).length,
      readTombstones(spark, dir, v).length, counts.size, frozen.size,
      counts.values.sum, frozen.toSeq.map(counts.getOrElse(_, 0L)).sum)
  }

  /** A version must be committed AND still on disk (see
    * [[MinhashIndex]]'s identical contract). */
  private[graft] def requireLiveVersion(spark: SparkSession, dir: String,
                                        version: Int): Unit = {
    val latest = latestVersion(spark, dir)
    require(version >= 1 && version <= latest,
      s"version $version out of [1, $latest] at $dir")
    require(fs(spark, dir).exists(new Path(versionDir(dir, version))),
      s"version $version at $dir was dropped by gc (retainLast) — only " +
        "versions still on disk can be queried; raise retainLast if " +
        "replay needs deeper history")
  }

  /** ANN top-k against the latest committed version. */
  def topK(spark: SparkSession, dir: String, queries: DataFrame,
           id: String, vec: String, k: Int, nProbe: Int = 4,
           refine: Int = 8, usePq: Boolean = true): DataFrame =
    topKAt(spark, dir, latestVersion(spark, dir), queries, id, vec, k, nProbe,
      refine, usePq)

  /**
   * ANN top-k pinned to a committed version — the replay primitive.
   * Probe lists are computed driver-side from the version's centroids
   * (queries are small by contract — every formulation broadcasts
   * them).
   *
   * An exact (non-PQ) version whose manifest counts × dim stay within
   * [[SnapshotMaxFloats]], probed by a batch that scores at most
   * [[SnapshotMaxWalk]] floats, is served from driver-side snapshots
   * of its segments ([[localTopK]]): no Spark job once its segments
   * are cached. Other versions and batches run the Spark scan,
   * [[topKAtScan]]. Both return the same rows.
   */
  def topKAt(spark: SparkSession, dir: String, version: Int,
             queries: DataFrame, id: String, vec: String, k: Int,
             nProbe: Int = 4, refine: Int = 8,
             usePq: Boolean = true): DataFrame = {
    requireLiveVersion(spark, dir, version)
    localTopK(spark, dir, version, queries, id, vec, k, nProbe) match {
      case Some((schema, rows)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      case None => topKAtScan(spark, dir, version, queries, id, vec, k,
        nProbe, refine, usePq)
    }
  }

  /** The `nProbe` lists nearest one query row's `vec` by cosine, in
    * probe order. Same arithmetic order as Similarity.bestListsArr:
    * left-associated double sums, ties by centroid index. */
  private def nearestLists(r: org.apache.spark.sql.Row, vec: String,
                           cents: Array[Array[Double]],
                           centNorms: Array[Double],
                           nProbe: Int): Seq[Int] = {
    // this driver probe accepts any boxed numeric element; the
    // Catalyst scoring kernel (FloatVecBestLists) is ARRAY<FLOAT>
    // only. Both demand full-dim, null/NaN-free vectors — enforced
    // HERE so malformed input fails loudly on one path instead of
    // silently diverging between the two (a cosine against null/NaN
    // is null/NaN, so "nearest lists" is undefined; a short vector
    // would truncate in Catalyst but throw in the driver fold).
    val v = r.getSeq[Number](1)
    require(v != null, s"null $vec for query ${r.get(0)}")
    require(v.length == cents.head.length,
      s"query ${r.get(0)} has dim ${v.length}, index has ${cents.head.length}")
    require(v.forall(x => x != null && !x.doubleValue.isNaN),
      s"null/NaN element in $vec for query ${r.get(0)}")
    cents.indices.map { ci =>
      // zero-norm centroids score -inf (they rank last), matching
      // Similarity.sortedListsByCos exactly — NaN ordering otherwise
      // diverges between the driver sort and Catalyst
      if (centNorms(ci) == 0.0) (Double.NegativeInfinity, ci)
      else {
        var dot = 0.0
        var i = 0
        while (i < cents(ci).length) {
          dot += v(i).doubleValue * cents(ci)(i)
          i += 1
        }
        (dot / centNorms(ci), ci)
      }
    }.sortBy { case (s, ci) => (-s, ci) }.take(nProbe).map(_._2)
  }

  /**
   * [[topKAt]] as a Spark scan — the path for PQ versions and versions
   * above the snapshot bound, and the reference the specs compare the
   * snapshot path with. Each manifest segment is scanned with a static
   * `list_id IN (…)` partition filter, so only probed directories are
   * listed and read regardless of how many appends the index has
   * absorbed.
   */
  private[graft] def topKAtScan(spark: SparkSession, dir: String,
                                version: Int, queries: DataFrame,
                                id: String, vec: String, k: Int,
                                nProbe: Int = 4, refine: Int = 8,
                                usePq: Boolean = true): DataFrame = {
    requireLiveVersion(spark, dir, version)
    // a version whose manifest lists NO segments (every row of a fold
    // was tombstone-masked — a CDC stream that deleted everything) has
    // a well-defined probe answer: no neighbors
    if (readSegments(spark, dir, version).isEmpty) {
      val idType = queries.schema(id).dataType
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id", idType),
          org.apache.spark.sql.types.StructField("rnk",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("neighbor_id", idType),
          org.apache.spark.sql.types.StructField("cos",
            org.apache.spark.sql.types.DoubleType))))
    }
    val cents = readCentroids(spark, dir, version)
    // Queries are small by contract (every formulation broadcasts
    // them), so probe lists are computed HERE, in Scala, from the
    // collected rows — the Catalyst alternative embeds an
    // nList × dim scoring expression whose analysis/codegen (not
    // execution) dominated the probe.
    val centNorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    val qRows = queries.select(col(id), col(vec)).collect()
    val qSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        queries.schema(id).dataType),
      org.apache.spark.sql.types.StructField("qv",
        queries.schema(vec).dataType),
      org.apache.spark.sql.types.StructField("list_id",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val exploded = new java.util.ArrayList[org.apache.spark.sql.Row]()
    // (query_id, qidx, list_id) twin of `exploded` for the PQ path —
    // qidx indexes the per-query ADC lookup table
    val explodedIdx = new java.util.ArrayList[org.apache.spark.sql.Row]()
    qRows.zipWithIndex.foreach { case (r, qi) =>
      nearestLists(r, vec, cents, centNorms, nProbe).foreach { ci =>
        exploded.add(org.apache.spark.sql.Row(r.get(0), r.get(1), ci))
        explodedIdx.add(org.apache.spark.sql.Row(r.get(0), qi, ci))
      }
    }
    val q = spark.createDataFrame(exploded, qSchema)
    val probedLists = exploded.iterator().asScala.map(_.getInt(2)).toSeq.distinct
    val segsV = readSegments(spark, dir, version)
    val tombsV = readTombstones(spark, dir, version)
    val tombDf = tombFrame(spark, dir, tombsV)
    // scan returns cols + seg_seq; deleted/superseded ids are masked by
    // a broadcast anti-join against the version's tombstones (strictly
    // older segments only — an upserted or re-added row survives its
    // own id's tombstone)
    def scan(cols: Seq[String]): DataFrame = {
      val u = segsV
        .map(s => ParquetFooters.read(spark, segPath(dir, s))
          .filter(col("list_id").isin(probedLists: _*))
          .select(cols.map(col) :+ lit(nameSeq(s)).as("seg_seq"): _*))
        .reduce(_.unionByName(_))
      tombDf match {
        case None => u.drop("seg_seq")
        case Some(t) => u.join(broadcast(t), tombMatch(col(cols.head)),
            "left_anti").drop("seg_seq")
      }
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))

    val booksOpt = if (usePq) readBooks(spark, dir, version) else None
    booksOpt match {
      case Some(books) =>
        // IVF-PQ probe. Stage 1 (ADC): the pruned-partition read is
        // ONLY (id, codes, pnorm) — columnar pruning keeps the vector
        // column on disk — and scoring is m table adds per pair
        // against per-query LUTs (driver metadata, one content-keyed
        // broadcast). Stage 2 (re-rank): the ADC top k·refine per
        // query — ≤ queries·k·refine rows, bounded by the same
        // small-query contract as `exploded` — re-read with their ids
        // pushed into the parquet scan and re-score with EXACT cosine,
        // so emitted values are identical in kind to the exact path.
        val luts = qRows.map { r =>
          Pq.lutFor(r.getSeq[Number](1).map(_.doubleValue).toArray, books)
        }
        val lutsBc = Pq.lutsBroadcast(spark,
          new graft.functions.PqLuts(luts, books.ksub))
        val qiSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            queries.schema(id).dataType),
          org.apache.spark.sql.types.StructField("qidx",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("list_id",
            org.apache.spark.sql.types.IntegerType, nullable = false)))
        val q2 = spark.createDataFrame(explodedIdx, qiSchema)
        val wAdc = Window.partitionBy(col("query_id"))
          .orderBy(col("adc").desc, col("neighbor_id"))
        val cand = scan(Seq(id, "codes", "pnorm", "list_id"))
          .toDF("neighbor_id", "codes", "pnorm", "list_id")
          .join(broadcast(q2), Seq("list_id"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("adc",
            when(col("pnorm") === 0.0, lit(Double.NegativeInfinity))
              .otherwise(Pq.adcDotF(col("codes"), col("qidx"), lutsBc)
                / col("pnorm")))
          .withColumn("r", row_number().over(wAdc))
          .filter(col("r") <= k * refine)
          .select(col("query_id"), col("neighbor_id"))
        val candRows = cand.collect() // ≤ queries·k·refine — bounded
        val candIds = candRows.map(_.get(1)).distinct.toSeq
        val candDf = broadcast(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            candRows.toSeq.asJava),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("query_id",
              queries.schema(id).dataType),
            org.apache.spark.sql.types.StructField("neighbor_id",
              queries.schema(id).dataType)))))
        val qv = broadcast(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            qRows.map(r => org.apache.spark.sql.Row(r.get(0), r.get(1)))
              .toSeq.asJava),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("query_id",
              queries.schema(id).dataType),
            org.apache.spark.sql.types.StructField("qv",
              queries.schema(vec).dataType)))))
        // candidate ids pushed into the vector read (dict/row-group
        // skipping); above the pushdown-friendly size, fall back to
        // the broadcast-hash join alone (same result, no isin tree)
        val cvBase = scan(Seq(id, vec, "list_id"))
          .toDF("neighbor_id", "cv", "list_id")
        val cv = if (candIds.size <= 10000)
          cvBase.filter(col("neighbor_id").isin(candIds: _*)) else cvBase
        cv.join(candDf, Seq("neighbor_id"))
          .join(qv, Seq("query_id"))
          .withColumn("cos",
            dotF(col("qv"), col("cv")) / (normF(col("qv")) * normF(col("cv"))))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= k)
          .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))
      case None =>
        scan(Seq(id, vec, "list_id"))
          .toDF("neighbor_id", "cv", "list_id")
          .join(broadcast(q), Seq("list_id"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("cos",
            dotF(col("qv"), col("cv")) / (normF(col("qv")) * normF(col("cv"))))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= k)
          .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))
    }
  }

  // ------------------------------------------------------------------
  // Probe snapshots: exact versions up to SnapshotMaxFloats, probed by
  // batches up to SnapshotMaxWalk, are scored in the driver from cached
  // per-segment rows (SegmentCache).
  // ------------------------------------------------------------------

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  /** Largest exact version, by Σ manifest list counts × dim (a bound on
    * its vector floats, tombstone-masked rows included), that
    * [[topKAt]] serves from driver-side segment snapshots. Measured
    * with graft.ProbeSnapshotBound (130,000 64-float vectors, 8.3M
    * floats, 32 lists, 4 cores): the snapshots took 1.2–1.5 s to load
    * and retained 37–46 MB of heap ([[SegmentCache]] counted 40 MB),
    * about a third of its byte bound. */
  private val SnapshotMaxFloats = 1L << 23

  /** Most vector floats a query batch may score (every row of each
    * query's probed lists) and still be served from the snapshots;
    * larger batches run the scan. On the index above, in three runs,
    * the driver won every batch measured: 10 queries (10M floats),
    * 100 (101M) and 1000 (1.0G floats: 1.06–1.25 s against 6.95–7.22 s).
    * The bound sits just above the 1000-query walk, the largest
    * measured. */
  private val SnapshotMaxWalk = 1L << 30

  /** One segment's rows of one list: ids, vectors, and each vector's
    * norm as normF computes it. */
  private final class ListRows(val ids: Array[Long],
                               val vecs: Array[Array[Float]],
                               val norms: Array[Double])

  /** A segment's rows by list, with its id field. */
  private final class VecSegment(val idField: StructField,
                                 val lists: Map[Int, ListRows])

  /** A tombstone dataset: list-global masks (id → sequence) and
    * list-scoped ones (list → id → sequence), the max per key. */
  private final class VecTombs(val global: Map[Long, Int],
                               val scoped: Map[Int, Map[Long, Int]])

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** FloatVecDot's arithmetic: left-associated double sum of
    * (double)a[i] * (double)b[i] over the shorter length. */
  private def floatDot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** One segment's rows, loaded once per segment in one driver read
    * pinned to the schema Spark wrote into its footer. None when only
    * the scan reproduces Spark's semantics for it: the segment lacks
    * `id` or `vec`, its id is not integral, its vectors are not
    * ARRAY<FLOAT>, or a vector is null. */
  private def vecSnapshot(spark: SparkSession, dir: String, seg: String,
                          id: String, vec: String): Option[VecSegment] = {
    val key = SegmentCache.keyOf(fs(spark, dir), segPath(dir, seg))
    SegmentCache.getOrLoad(key) {
      // a partitioned segment's files do not hold list_id
      val schema = keySchema(spark, key).map(s =>
        if (s.fieldNames.contains("list_id")) s
        else s.add("list_id", IntegerType))
        .filter(s => s.fieldNames.contains(id) && s.fieldNames.contains(vec) &&
          integral(s(id).dataType) && (s(vec).dataType match {
            case ArrayType(FloatType, _) => true
            case _ => false
          }))
      schema match {
        case None => (None, 0L)
        case Some(sc) =>
          // a null id never passes the scan's query_id =!= neighbor_id
          val byList = scala.collection.mutable.HashMap
            .empty[Int, (scala.collection.mutable.ArrayBuilder[Long],
              scala.collection.mutable.ArrayBuilder[Array[Float]])]
          var nulls = false
          var bytes = 0L
          SegmentCache.foreachRow(spark, key,
              Seq(sc(id), sc(vec), sc("list_id"))) { r =>
            if (r(1) == null || r(2) == null) nulls = true
            else if (r(0) != null) {
              val v = r(1).asInstanceOf[Array[Float]]
              val (ids, vs) = byList.getOrElseUpdate(
                r(2).asInstanceOf[Long].toInt,
                (Array.newBuilder[Long], Array.newBuilder[Array[Float]]))
              ids += r(0).asInstanceOf[Long]
              vs += v
              bytes += 64L + 4L * v.length
            }
          }
          if (nulls) (None, 0L)
          else {
            val lists = byList.iterator.map { case (l, (ids, vs)) =>
              val va = vs.result()
              l -> new ListRows(ids.result(), va,
                va.map(v => math.sqrt(floatDot(v, v))))
            }.toMap
            (Some(new VecSegment(sc(id), lists)), bytes)
          }
      }
    }
  }

  /** One tombstone dataset (see [[tombFrame]] for the `d`/`e`/`c`
    * shapes), loaded once; None when its id is not integral. */
  private def vecTombSnapshot(spark: SparkSession, dir: String,
                              name: String): Option[VecTombs] = {
    val key = SegmentCache.keyOf(fs(spark, dir), tombPath(dir, name))
    SegmentCache.getOrLoad(key) {
      keySchema(spark, key) match {
        case None => (Some(new VecTombs(Map.empty, Map.empty)), 64L)
        case Some(sc) if !sc.fieldNames.contains("id") ||
            !integral(sc("id").dataType) => (None, 0L)
        case Some(sc) =>
          // (id, list_id or null, seq): d/e sequences are the name's
          val cols = sc("id") +: Seq("list_id", "seq").filter(sc.fieldNames.contains)
            .map(sc(_))
          val names = cols.map(_.name)
          val global = scala.collection.mutable.LongMap.empty[Int]
          val scoped = scala.collection.mutable.HashMap
            .empty[Int, scala.collection.mutable.LongMap[Int]]
          var n = 0L
          SegmentCache.foreachRow(spark, key, cols) { r =>
            val v = names.zip(r).toMap
            val q = if (name.startsWith("c")) v("seq") else nameSeq(name).toLong
            if (v("id") != null && q != null) {
              val i = v("id").asInstanceOf[Long]
              val s = q.asInstanceOf[Long].toInt
              n += 1
              v.getOrElse("list_id", null) match {
                case null => global(i) = math.max(s, global.getOrElse(i, s))
                case l =>
                  val m = scoped.getOrElseUpdate(l.asInstanceOf[Long].toInt,
                    scala.collection.mutable.LongMap.empty[Int])
                  m(i) = math.max(s, m.getOrElse(i, s))
              }
            }
          }
          (Some(new VecTombs(global.toMap,
            scoped.view.mapValues(_.toMap).toMap)), 64L + 96L * n)
      }
    }
  }

  /** The schema of the first data file of `key`; None when it has none. */
  private def keySchema(spark: SparkSession,
                        key: SegmentCache.Key): Option[StructType] =
    key.files.headOption.map(n =>
      ParquetFooters.fileSchema(spark, new Path(s"${key.path}/$n")))

  /** The `k` best (cosine, neighbor id) candidates offered, in the order
    * the scan ranks them: cosine descending, then neighbor id; -0.0 and
    * 0.0 compare equal, as in Spark's ordering, and of two equal
    * candidates the first offered ranks first. A binary heap with the
    * worst kept candidate at its root. */
  private final class TopK(k: Int) {
    private val cos = new Array[Double](k)
    private val ids = new Array[Long](k)
    private val order = new Array[Long](k)
    private var n = 0
    private var offered = 0L

    // candidate a ranks before candidate b
    private def before(i: Int, j: Int): Boolean =
      cos(i) > cos(j) || (cos(i) == cos(j) &&
        (ids(i) < ids(j) || (ids(i) == ids(j) && order(i) < order(j))))

    private def swap(i: Int, j: Int): Unit = {
      val c = cos(i); cos(i) = cos(j); cos(j) = c
      val d = ids(i); ids(i) = ids(j); ids(j) = d
      val o = order(i); order(i) = order(j); order(j) = o
    }

    def offer(c: Double, id: Long): Unit = {
      offered += 1
      if (n < k) {
        cos(n) = c; ids(n) = id; order(n) = offered
        var i = n
        n += 1
        while (i > 0 && before((i - 1) / 2, i)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
      } else if (k > 0 && (c > cos(0) || (c == cos(0) && id < ids(0)))) {
        cos(0) = c; ids(0) = id; order(0) = offered
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1
          val w = if (l + 1 < n && before(l, l + 1)) l + 1 else l
          if (l < n && before(i, w)) { swap(i, w); i = w } else done = true
        }
      }
    }

    /** The kept candidates, best first. */
    def ranked: Seq[(Double, Long)] =
      (0 until n).sortWith(before).map(i => (cos(i), ids(i)))
  }

  /** [[topKAt]]'s rows and schema scored in the driver from segment
    * snapshots, or None when the Spark scan must serve the probe: a PQ
    * version, no segments, a version above [[SnapshotMaxFloats]], a
    * non-integral query id or non-ARRAY<FLOAT> query vector, a batch
    * that would score more than `maxWalk` floats, a segment or
    * tombstone set [[vecSnapshot]]/[[vecTombSnapshot]] declines, or
    * a zero-norm or NaN cosine (Spark's division semantics). Lists are
    * chosen as the scan chooses them; cosines are FloatVecDot's;
    * a query never returns itself; ties break by neighbor id. The
    * caller checks the version is live. */
  private[graft] def localTopK(spark: SparkSession, dir: String,
                               version: Int, queries: DataFrame,
                               id: String, vec: String, k: Int,
                               nProbe: Int,
                               maxWalk: Long = SnapshotMaxWalk)
      : Option[(StructType, Seq[Row])] = {
    val segs = readSegments(spark, dir, version)
    if (segs.isEmpty || readBooks(spark, dir, version).isDefined) return None
    val cents = readCentroids(spark, dir, version)
    val qField = queries.schema(id)
    val qVecOk = queries.schema(vec).dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val counts = readCounts(spark, dir, version)
    if (!integral(qField.dataType) || !qVecOk ||
      counts.values.sum * cents.head.length > SnapshotMaxFloats) return None
    val centNorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    // a null query id matches nothing under query_id =!= neighbor_id
    val qs = queries.select(col(id), col(vec)).collect().toSeq
      .map(r => (r, nearestLists(r, vec, cents, centNorms, nProbe)))
      .filterNot(_._1.isNullAt(0))
    // floats scored: every row of every probed list, masked or not
    val walk = qs.iterator.flatMap(_._2).map(counts.getOrElse(_, 0L)).sum *
      cents.head.length
    if (walk > maxWalk) return None
    val snaps = segs.map(vecSnapshot(spark, dir, _, id, vec))
    if (snaps.exists(_.isEmpty) ||
      snaps.flatten.map(_.idField.dataType).distinct.size > 1) return None
    val tombs = readTombstones(spark, dir, version)
      .map(vecTombSnapshot(spark, dir, _))
    if (tombs.exists(_.isEmpty)) return None
    val global = SegmentCache.maxMerge(tombs.flatten.map(_.global))
    val scoped = tombs.flatten.flatMap(_.scoped.keys).distinct.map(l =>
      l -> SegmentCache.maxMerge(tombs.flatten.flatMap(_.scoped.get(l)))).toMap
    val segRows = segs.map(nameSeq).zip(snaps.flatten)
    // the masks do not depend on the query: each probed list's live rows,
    // per segment, are found once for the batch
    val live = scala.collection.mutable.LongMap.empty[Array[(ListRows, Array[Int])]]
    def liveRows(l: Int): Array[(ListRows, Array[Int])] =
      live.getOrElseUpdate(l, {
        val sc = scoped.getOrElse(l, Map.empty[Long, Int])
        segRows.flatMap { case (seq, sg) =>
          sg.lists.get(l).map(lr => lr -> lr.ids.indices.filter { i =>
            val nid = lr.ids(i)
            global.getOrElse(nid, seq) <= seq && sc.getOrElse(nid, seq) <= seq
          }.toArray)
        }.toArray
      })
    // the k best candidates per query id; rows sharing an id pool their
    // candidates, as the scan's window partition does
    val byQuery = scala.collection.mutable.LinkedHashMap.empty[Any, TopK]
    // a zero-norm pair divides by zero and a NaN cosine sorts first in
    // Spark: such probes are left to the scan
    var undefinedCos = false
    for ((r, lists) <- qs) {
      val q = r.get(0).asInstanceOf[Number].longValue
      val qv = r.getSeq[Number](1).map(_.floatValue).toArray
      val qn = math.sqrt(floatDot(qv, qv))
      val best = byQuery.getOrElseUpdate(r.get(0), new TopK(k))
      for (l <- lists; (lr, rows) <- liveRows(l)) {
        var j = 0
        while (j < rows.length) {
          val i = rows(j)
          val nid = lr.ids(i)
          if (nid != q) {
            val den = qn * lr.norms(i)
            val cos = floatDot(qv, lr.vecs(i)) / den
            undefinedCos ||= den == 0.0 || cos.isNaN
            best.offer(cos, nid)
          }
          j += 1
        }
      }
    }
    if (undefinedCos) return None
    val nField = snaps.head.get.idField
    val toId: Long => Any = nField.dataType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => identity
    }
    val rows = byQuery.toSeq.flatMap { case (qid, best) =>
      best.ranked.zipWithIndex.map { case ((cos, nid), i) =>
        Row(qid, i + 1, toId(nid), cos)
      }
    }
    Some((StructType(Seq(qField.copy(name = "query_id"),
      StructField("rnk", IntegerType, nullable = false),
      nField.copy(name = "neighbor_id"),
      StructField("cos", DoubleType))), rows))
  }

  /** Drop versions older than the last `retainLast` and every segment
    * no retained manifest references (compactions strand their
    * predecessors; crashed appends strand orphans). In-flight segments
    * are never touched: an uncommitted append's segment is numbered
    * latest+1, above the retained range this scans. Single-writer,
    * like [[append]]. */
  def gc(spark: SparkSession, dir: String, retainLast: Int): Unit = {
    require(retainLast >= 1, s"retainLast must be >= 1: $retainLast")
    val latest = latestVersion(spark, dir)
    val f = fs(spark, dir)
    val keepFrom = math.max(1, latest - retainLast + 1)
    (1 until keepFrom).foreach(v => f.delete(new Path(versionDir(dir, v)), true))
    // a prior gc with a smaller retainLast may already have dropped
    // versions inside today's retention window — only read manifests
    // that still exist
    val referenced = (keepFrom to latest)
      .filter(v => f.exists(new Path(versionDir(dir, v))))
      .flatMap(readSegments(spark, dir, _)).toSet
    val segRoot = new Path(s"${dir.stripSuffix("/")}/segments")
    if (f.exists(segRoot))
      f.listStatus(segRoot).foreach { st =>
        val name = st.getPath.getName
        // name = [sr]NNNNN; only reap segments at or below the latest
        // committed version — latest+1 may be an append in flight
        val num = name.drop(1).takeWhile(_.isDigit).toIntOption
          .getOrElse(Int.MaxValue)
        if (!referenced.contains(name) && num <= latest) {
          f.delete(st.getPath, true)
          SegmentCache.dropUnder(f, st.getPath)
        }
      }
    // tombstone datasets follow the same rule: reap what no retained
    // manifest references (compactions retire them; crashed
    // deletes/upserts strand orphans) — never the in-flight d(latest+1)
    val refTombs = (keepFrom to latest)
      .filter(v => f.exists(new Path(versionDir(dir, v))))
      .flatMap(readTombstones(spark, dir, _)).toSet
    val tombRoot = new Path(s"${dir.stripSuffix("/")}/tombs")
    if (f.exists(tombRoot))
      f.listStatus(tombRoot).foreach { st =>
        val name = st.getPath.getName
        val num = name.drop(1).takeWhile(_.isDigit).toIntOption
          .getOrElse(Int.MaxValue)
        if (!refTombs.contains(name) && num <= latest) {
          f.delete(st.getPath, true)
          SegmentCache.dropUnder(f, st.getPath)
        }
      }
  }
}
