package graft.operators

import java.io.ByteArrayOutputStream

import graft.io.ParquetFooters
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted EXACT-dedup digest index — the fourth incremental index
 * family, completing the ingest-time dedup/retrieval set: exact
 * (here), near-dup ([[MinhashIndex]]), ANN ([[IvfIndex]]), lexical
 * ([[TermIndex]]). A continuous-ingest pipeline asks, per batch,
 * "which of these documents are byte-identical to anything already
 * ingested?" — [[Dedup.exact]] answers it by re-grouping the whole
 * corpus per batch, and the streaming `dropDuplicatesWithinWatermark`
 * form can only look back one watermark horizon. This index holds the
 * corpus' digest set in LSM segments, so per-ingest work is
 * batch-sized over the corpus' full lifetime.
 * (Reference analogue: the cache-short-circuit discipline of
 * /root/reference/cache.go:51-66 — persisted state answers what it
 * can; only the delta is computed.)
 *
 * Layout (`dir/` on any Hadoop filesystem; [[VersionedLayout]]
 * conventions — immutable segments, atomic LATEST, writer claims):
 * {{{
 *   latest/, FORMAT, claims/  monotonic version pointers + layout rev + writer
 *                             mutual exclusion (ConcurrencySpec)
 *   segments/s00002/data/     (digest STRING, id LONG) parquet,
 *                             range-partitioned AND sorted by digest —
 *                             per-file min/max + row-group stats make
 *                             a candidate-digest pushdown scan
 *                             candidate-sized, not corpus-sized
 *   segments/s00002/BLOOM     serialized Bloom filter over
 *                             xxhash64(digest) of this segment's rows
 *   segments/r00009/          a size-tiered compaction segment (folds
 *                             the batch-sized `s` segments; prior `r`
 *                             segments kept — the sibling families'
 *                             O(N)-write-volume policy)
 *   tombs/d00004/             (id LONG) tombstone datasets: mask
 *                             matching ids in STRICTLY older segments
 *   v00001/segments.txt       "name,rows" manifest
 *   v00001/tombstones.txt     tombstone names this version masks with
 * }}}
 *
 * Probe shape at 100 TB (what makes an ingest batch-sized): an exact
 * membership probe is fundamentally an anti-join of batch digests
 * against the corpus digest set — corpus-sized if run as a join. The
 * index splits it bloom-proposes / exact-verifies (the
 * [[BloomJoin]] discipline): each segment's Bloom filter is driver
 * metadata (sized by segment rows × fpp), the batch tests against the
 * OR of them inside whole-stage codegen, and only the survivors —
 * true duplicates plus ≤ fpp false positives, NOT the batch — reach
 * the verify scan, with their digests pushed into the parquet scan as
 * an `In` filter over the digest-sorted files. A mostly-novel batch
 * (the steady state of a crawl) therefore reads almost nothing;
 * exactness never depends on the Bloom pass because the digest
 * equi-join discards every false positive. Deletes only ever SHRINK
 * the live set, so stale Blooms over-propose and the tombstone mask
 * in the verify join restores exactness — Blooms are never rewritten
 * by deletes.
 *
 * Semantics (seen-first-wins, the ingestion-order contract of a
 * streaming dedup): the index holds AT MOST ONE live row per digest —
 * ingest appends only batch docs whose digest has no live index match,
 * one per digest (min id within the batch). A probe emits
 * `(id, dup_of)` for every batch doc that duplicates either a live
 * indexed doc (dup_of = the indexed id, regardless of id order — it
 * was seen first) or an earlier (smaller-id) doc of its own batch.
 * Deterministic, hence fully SQL-replayable (dedup_exact_idx).
 */
object DigestIndex {

  /** `fpp`: per-segment Bloom false-positive rate — tunes verify-scan
    * traffic, never results. `maxSegments`: size-tiered compaction
    * threshold (the sibling families' policy). `rowsPerFile`: target
    * rows per data file in a segment (range-split by digest).
    * `bloomMaxBytes`: hard per-segment Bloom size budget. Blooms are
    * DRIVER metadata (deserialized per probe, embedded as scan-side
    * literals), so without a cap a corpus-sized r-segment's
    * fpp-optimal filter grows O(rows) on the driver heap — ~1.2 GB per
    * billion rows at 1%. Over budget, the filter is sized to the
    * budget instead and the EFFECTIVE fpp degrades; exactness never
    * moves (the verify join restores it), only verify-scan traffic.
    * Total probe-side Bloom memory is therefore bounded by
    * (manifest segments ≤ ~maxSegments) × bloomMaxBytes, independent
    * of corpus rows — spec-pinned in DigestIndexSpec. */
  /** `tombMaxBytes`: byte budget for the RETAINED tombstone datasets.
    * Tombstones only retire when every segment older than them has
    * been folded; a long-kept corpus-sized base r-segment therefore
    * pins them live, and the coalesced (id, max seq) dataset — re-read
    * at every probe and re-written at every fold — grows with distinct
    * churned ids: bounded only while churn touches ≪ corpus ids,
    * unbounded if a workload eventually touches most ids. When the
    * retained tombstone bytes exceed this budget at a fold commit, the
    * fold ESCALATES to a full merge (every segment folds, every
    * tombstone applies physically and retires) — an O(corpus) rewrite
    * paid once per O(tombMaxBytes) of accumulated churn, i.e. O(1)
    * amortized per churned row, in exchange for probe-side tombstone
    * state that is bounded by the budget instead of by corpus
    * lifetime. */
  final case class Config(fpp: Double = 0.01, maxSegments: Int = 8,
                          rowsPerFile: Long = 4L * 1000 * 1000,
                          bloomMaxBytes: Long = 16L * 1024 * 1024,
                          tombMaxBytes: Long = 64L * 1024 * 1024)

  private val FormatVersion = 1

  /** Largest distinct candidate-digest set collected and pushed into
    * the segment scans as an `In` filter (candidate-sized I/O); larger
    * sets fall back to a broadcast semi-join over the full digest
    * scan. Steady-state candidate sets (true dups + fp) sit orders of
    * magnitude below this. Same knob class as
    * [[MinhashIndex]]'s MaxPushdownCandidates. */
  private val MaxPushdownCandidates = 10 * 1000

  import VersionedLayout.{fs, versionDir, withClaim}

  def exists(spark: SparkSession, dir: String): Boolean =
    VersionedLayout.exists(spark, dir)

  def latestVersion(spark: SparkSession, dir: String): Int =
    VersionedLayout.latestVersion(spark, dir, FormatVersion, "DigestIndex")

  private def segPath(dir: String, name: String): String =
    s"${dir.stripSuffix("/")}/segments/$name"

  private def tombPath(dir: String, name: String): String =
    s"${dir.stripSuffix("/")}/tombs/$name"

  private def nameSeq(name: String): Int =
    name.drop(1).takeWhile(_.isDigit).toInt

  private def writeManifest(spark: SparkSession, dir: String, v: Int,
                            segs: Seq[(String, Long)]): Unit =
    // rename-based fenced manifest commit (lease re-verified AFTER the
    // content write — see VersionedLayout.fencedWrite)
    VersionedLayout.fencedWrite(spark, dir, v, "DigestIndex",
      new Path(versionDir(dir, v), "segments.txt"),
      segs.map { case (n, r) => s"$n,$r" }.mkString("\n"))

  private[graft] def readManifest(spark: SparkSession, dir: String,
                                  v: Int): Seq[(String, Long)] = {
    val s = VersionedLayout.fencedRead(fs(spark, dir),
      new Path(versionDir(dir, v), "segments.txt"))
    if (s.isEmpty) Seq.empty
    else s.split("\n").toSeq.map { l =>
      val Array(n, r) = l.split(","); (n, r.toLong)
    }
  }

  private def writeTombstonesFile(spark: SparkSession, dir: String, v: Int,
                                  tombs: Seq[String]): Unit =
    if (tombs.nonEmpty)
      // fenced like segments.txt — same shared-path clobber class
      VersionedLayout.fencedWrite(spark, dir, v, "DigestIndex",
        new Path(versionDir(dir, v), "tombstones.txt"), tombs.mkString("\n"))

  private[graft] def readTombstones(spark: SparkSession, dir: String,
                                    v: Int): Seq[String] = {
    val p = new Path(versionDir(dir, v), "tombstones.txt")
    VersionedLayout.fencedReadOpt(fs(spark, dir), p)
      .map(_.split("\n").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
  }

  private def requireLiveVersion(spark: SparkSession, dir: String,
                                 version: Int): Unit = {
    val latest = latestVersion(spark, dir)
    require(version >= 1 && version <= latest,
      s"version $version of $dir does not exist (latest: $latest)")
    require(fs(spark, dir).exists(new Path(versionDir(dir, version))),
      s"version $version of $dir was garbage-collected — pinned replay " +
        "needs retainVersions to cover it")
  }

  // ---- Bloom plumbing (the BloomJoin build/probe pair, over digests)

  private def bloomPath(dir: String, seg: String): Path =
    new Path(segPath(dir, seg), "BLOOM")

  /** Distributed Bloom build over a committed segment's digests
    * (treeAggregate — no row shuffle), serialized next to the data.
    * Sized by fpp while that fits `bloomMaxBytes`; by the byte budget
    * (degraded fpp, bounded heap) beyond it. */
  private def writeBloom(spark: SparkSession, dir: String, seg: String,
                         rows: Long, cfg: Config): Unit = {
    val n = math.max(rows, 1L)
    val optimalBits = math.ceil(
      -n * math.log(cfg.fpp) / (math.log(2) * math.log(2))).toLong
    val budgetBits = cfg.bloomMaxBytes * 8L
    val data = readSegData(spark, dir, seg)
    val bf =
      if (optimalBits <= budgetBits)
        data.stat.bloomFilter(xxhash64(col("digest")), n, cfg.fpp)
      else
        data.stat.bloomFilter(xxhash64(col("digest")), n, budgetBits)
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    val out = fs(spark, dir).create(bloomPath(dir, seg), true)
    try out.write(bos.toByteArray) finally out.close()
  }

  private def readBloom(spark: SparkSession, dir: String,
                        seg: String): Array[Byte] = {
    val in = fs(spark, dir).open(bloomPath(dir, seg))
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  /** Codegen'd `might_contain` over the serialized filter. */
  private def mightContain(filterBytes: Array[Byte], key: Column): Column =
    shims.column(new BloomFilterMightContain(
      Literal(filterBytes, BinaryType), shims.expression(key)))

  // ---- segment I/O

  private val segSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("digest",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType)))

  private def readSegData(spark: SparkSession, dir: String,
                          seg: String): DataFrame =
    spark.read.schema(segSchema).parquet(s"${segPath(dir, seg)}/data")

  /** Write (digest, id) rows range-split and sorted by digest, so the
    * verify scan's candidate `In` filter prunes files by min/max and
    * row groups by stats. Returns the committed row count. */
  private def writeSegData(spark: SparkSession, rows: DataFrame, dir: String,
                           seg: String, cfg: Config): Long = {
    val n = rows.count()
    if (n > 0) {
      val parts = math.max(1L, (n + cfg.rowsPerFile - 1) / cfg.rowsPerFile).toInt
      rows.repartitionByRange(parts, col("digest"))
        .sortWithinPartitions("digest")
        .write.mode("overwrite").parquet(s"${segPath(dir, seg)}/data")
    }
    n
  }

  private def digestOf(text: String): Column =
    md5(col(text).cast("binary"))

  /** Tombstone union as (t_id, t_seq) — None when empty. `d` datasets
    * carry one id column (sequence = the name); `c` datasets are
    * COALESCED (id, max seq) rows from a fold — exact, see the sibling
    * families' tombFrame docs. */
  private def tombFrame(spark: SparkSession, dir: String,
                        tombs: Seq[String]): Option[DataFrame] =
    if (tombs.isEmpty) None
    else Some(tombs.map { t =>
        val raw = ParquetFooters.read(spark, tombPath(dir, t))
        if (t.startsWith("c"))
          raw.select(col("id").as("t_id"), col("seq").as("t_seq"))
        else
          raw.select(col("id").as("t_id"), lit(nameSeq(t)).as("t_seq"))
      }.reduce(_.unionByName(_)))

  /** Coalesce retained tombstone datasets into ONE (id, max seq)
    * dataset when they have piled up — called at fold commits.
    * `keptMinSeq` (the OLDEST kept segment's sequence) prunes rows
    * that mask nothing anymore: a tombstone row masks only segments
    * with a strictly smaller sequence, so rows with
    * t_seq ≤ keptMinSeq are dead weight the coalesce drops. */
  private def coalesceTombs(spark: SparkSession, dir: String, v: Int,
                            tombs: Seq[String],
                            keptMinSeq: Option[Int]): Seq[String] =
    if (tombs.length < 3) tombs
    else {
      val cName = f"c$v%05d${VersionedLayout.fence(dir, v)}"
      val rows0 = tombFrame(spark, dir, tombs).get
      val rows = keptMinSeq.fold(rows0)(m => rows0.filter(col("t_seq") > m))
      rows.groupBy("t_id").agg(max("t_seq").as("seq"))
        .select(col("t_id").as("id"), col("seq"))
        .write.mode("overwrite").parquet(tombPath(dir, cName))
      // an all-pruned coalesce writes an empty dataset: drop it from
      // the manifest entirely (nothing left to mask)
      if (ParquetFooters.count(spark, tombPath(dir, cName)) == 0) Seq.empty
      else Seq(cName)
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

  /** Mask rows (carrying seg_seq) by the strictly-newer-tombstone
    * rule shared with the sibling families. */
  private def maskBySeq(rows: DataFrame, tomb: Option[DataFrame]): DataFrame =
    tomb.fold(rows)(t => rows.join(broadcast(t),
      rows("id") === col("t_id") && col("t_seq") > col("seg_seq"),
      "left_anti"))

  // ---- lifecycle

  /** Commit an empty v1 — the index exists, holds nothing. */
  def create(spark: SparkSession, dir: String, cfg: Config = Config()): Int = {
    withClaim(spark, dir, 1, FormatVersion, "DigestIndex") {
      writeManifest(spark, dir, 1, Seq.empty)
    }
    1
  }

  /** Create + ingest the initial corpus; returns its internal dup
    * pairs (what [[ingest]] returns). */
  def build(spark: SparkSession, corpus: DataFrame, id: String, text: String,
            dir: String, cfg: Config = Config()): DataFrame = {
    create(spark, dir, cfg)
    ingest(spark, dir, corpus, id, text, cfg)
  }

  /** Probe state against one pinned version: the annotated batch
    * (id, digest, bmin, idx_id) — idx_id non-null iff a LIVE indexed
    * doc holds the digest. `extraTomb` (an (id LONG) frame) masks ON
    * TOP of the version's committed tombstones, over every segment —
    * the in-flight delete set of a CDC commit, applied to the probe
    * before its own tombstone version exists. */
  private def annotate(spark: SparkSession, dir: String, version: Int,
                       batch: DataFrame, id: String, text: String,
                       cfg: Config,
                       extraTomb: Option[DataFrame] = None): DataFrame = {
    val batchD = batch
      .select(col(id).cast("long").as("id"), digestOf(text).as("digest"))
    val bmin = batchD.groupBy("digest").agg(min(col("id")).as("bmin"))
    val segs = readManifest(spark, dir, version).filter(_._2 > 0)
    val idxLive: DataFrame =
      if (segs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("digest",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("idx_id",
              org.apache.spark.sql.types.LongType))))
      else {
        // bloom proposes: batch rows that might exist in ANY segment
        val orPred = segs.map(s =>
            mightContain(readBloom(spark, dir, s._1),
              xxhash64(col("digest"))))
          .reduce(_ || _)
        val cand = batchD.filter(orPred)
        // candidate-sized pushdown when the survivor set is small (the
        // steady state); broadcast semi-join fallback otherwise — the
        // limit(N+1) collect never materializes an oversized set
        val candD = cand.select("digest").distinct()
        val sample = candD.limit(MaxPushdownCandidates + 1).collect()
        // extraTomb masks every committed segment: seq MaxValue is
        // strictly newer than any segment of this version
        val extra = extraTomb.map(_.select(col("id").as("t_id"),
          lit(Int.MaxValue).as("t_seq")))
        val tomb0 = tombFrame(spark, dir, readTombstones(spark, dir, version))
        val tomb = (tomb0, extra) match {
          case (Some(b), Some(e)) => Some(b.unionByName(e))
          case (b, e)             => b.orElse(e)
        }
        val hitsAll = segs.map { s =>
          val base = readSegData(spark, dir, s._1)
            .withColumn("seg_seq", lit(nameSeq(s._1)))
          if (sample.length <= MaxPushdownCandidates)
            base.filter(col("digest")
              .isin(sample.map(_.getString(0)).toSeq: _*))
          else base.join(broadcast(candD), Seq("digest"), "left_semi")
        }.reduce(_.unionByName(_))
        maskBySeq(hitsAll, tomb)
          .select(col("digest"), col("id").as("idx_id"))
      }
    batchD.join(bmin, "digest").join(idxLive, Seq("digest"), "left")
  }

  /** `(id, dup_of)` for every batch doc duplicating a live indexed doc
    * (dup_of = the indexed id — it was seen first) or a smaller-id doc
    * of its own batch. Probe-only; commits nothing. */
  def dupPairsAt(spark: SparkSession, dir: String, version: Int,
                 batch: DataFrame, id: String, text: String,
                 cfg: Config = Config()): DataFrame = {
    requireLiveVersion(spark, dir, version)
    pairsOf(annotate(spark, dir, version, batch, id, text, cfg), id)
  }

  /** The (id, dup_of) projection of an annotated probe. Self-pairs are
    * dropped: re-probing a doc the index already holds under its own
    * id reports nothing (it IS the canonical). */
  private def pairsOf(ann: DataFrame, id: String): DataFrame =
    ann.filter(col("idx_id").isNotNull || col("bmin") < col("id"))
      .select(col("id"), coalesce(col("idx_id"), col("bmin")).as("dup_of"))
      .filter(col("dup_of") =!= col("id"))
      .select(col("id").as(id), col("dup_of"))

  def dupPairs(spark: SparkSession, dir: String, batch: DataFrame,
               id: String, text: String, cfg: Config = Config()): DataFrame =
    dupPairsAt(spark, dir, latestVersion(spark, dir), batch, id, text, cfg)

  /**
   * Fold `batch` into the index: emit its dup pairs (against the
   * pre-ingest state — [[dupPairsAt]] semantics) and append the novel
   * canonical rows (one per new digest, min batch id) as one segment +
   * Bloom, in one committed version. A batch with nothing novel still
   * advances the version (streaming wrappers pair batch ids to
   * versions 1:1 — the sibling quiet-batch contract). The returned
   * pairs are MATERIALIZED before the flip; the caller unpersists.
   */
  def ingest(spark: SparkSession, dir: String, batch: DataFrame,
             id: String, text: String, cfg: Config = Config()): DataFrame =
    ingestImpl(spark, dir, batch, id, text, cfg, extraTomb = None)

  /** [[ingest]] plus an optional in-commit delete set: `extraTomb` ids
    * are masked from the probe (so a dup answer never points at a doc
    * dying in this very commit) and written as a tombstone of the SAME
    * version as the batch segment — one atomic CDC commit, the
    * TermIndex/IvfIndex applyCdc shape. */
  private def ingestImpl(spark: SparkSession, dir: String, batch: DataFrame,
                         id: String, text: String, cfg: Config,
                         extraTomb: Option[DataFrame]): DataFrame = {
    val v = latestVersion(spark, dir)
    withClaim(spark, dir, v + 1, FormatVersion, "DigestIndex") {
      val ann = annotate(spark, dir, v, batch, id, text, cfg, extraTomb)
        .persist()
      val pairs = pairsOf(ann, id).persist()
      // (pairs is the block's value — returned once the flip commits)
      pairs.count() // materialize against v before v+1 commits
      val novel = ann.filter(col("idx_id").isNull && col("id") === col("bmin"))
        .select(col("digest"), col("id"))
      val segsPrev = readManifest(spark, dir, v)
      // sibling-family guard (IvfIndex/TermIndex gate on nTomb > 0):
      // an empty CDC delete set must not append an empty tombstone
      // dataset that every later probe and fold reads until retired.
      val fx = VersionedLayout.fence(dir, v + 1)
      val dName = extraTomb.flatMap { ids =>
        val d = f"d${v + 1}%05d$fx"
        val distinctIds = ids.select(col("id")).distinct()
        distinctIds.write.mode("overwrite").parquet(tombPath(dir, d))
        val nTomb = ParquetFooters.count(spark, tombPath(dir, d))
        if (nTomb > 0) Some(d)
        else { fs(spark, dir).delete(new Path(tombPath(dir, d)), true); None }
      }
      val tombs = readTombstones(spark, dir, v) ++ dName
      val seg = f"s${v + 1}%05d$fx"
      val n = writeSegData(spark, novel, dir, seg, cfg)
      if (n > 0) writeBloom(spark, dir, seg, n, cfg)
      ann.unpersist(blocking = false)
      val newSegs = if (n == 0) segsPrev else segsPrev :+ ((seg, n))
      if (newSegs.length > cfg.maxSegments) {
        // size-tiered fold, sibling policy: batch-sized `s` segments
        // fold into one `r` (outstanding tombstones applied PHYSICALLY);
        // prior `r` segments merge only when their own count trips the
        // cap, and then only a SIZE-MATCHED subset
        // ([[VersionedLayout.tierMergeSet]] over the manifest's
        // per-segment row counts) — each row rewrites O(log n) times
        // total, never an amortized corpus rewrite per fold cycle.
        // EXCEPT: when the retained tombstones exceed their byte
        // budget, the fold escalates to a FULL merge — every segment
        // folds, so every tombstone applies physically and retires
        // (see Config.tombMaxBytes for the amortization argument).
        // Checked at fold commits only, so the overshoot above the
        // budget is bounded by one fold cycle (≤ maxSegments commits)
        // of tombstone writes.
        val (rSegs, sSegs) = newSegs.partition(_._1.startsWith("r"))
        val escalate = tombs.nonEmpty &&
          tombBytes(spark, dir, tombs) > cfg.tombMaxBytes
        val rMerge: Set[String] =
          if (escalate) rSegs.map(_._1).toSet
          else if (rSegs.length < cfg.maxSegments) Set.empty
          else VersionedLayout.tierMergeSet(rSegs.map(s => s._1 -> s._2))
        val toMerge = sSegs ++ rSegs.filter(s => rMerge(s._1))
        val kept = rSegs.filterNot(s => rMerge(s._1))
        val comp = f"r${v + 1}%05d$fx"
        val folded = maskBySeq(
          toMerge.map(s => readSegData(spark, dir, s._1)
              .withColumn("seg_seq", lit(nameSeq(s._1))))
            .reduce(_.unionByName(_)),
          tombFrame(spark, dir, tombs)).drop("seg_seq")
        val nC = writeSegData(spark, folded, dir, comp, cfg)
        if (nC > 0) writeBloom(spark, dir, comp, nC, cfg)
        // tombstones retire unless a KEPT segment is still older;
        // surviving rows that mask nothing older than the oldest kept
        // segment are pruned inside the coalesce
        val keptMinSeq = kept.map(s => nameSeq(s._1)).minOption
        val tombsKept = coalesceTombs(spark, dir, v + 1,
          tombs.filter(t => kept.exists(s => nameSeq(s._1) < nameSeq(t))),
          keptMinSeq)
        val compSegs =
          (if (nC == 0) kept else kept :+ ((comp, nC))).sortBy(s => nameSeq(s._1))
        writeManifest(spark, dir, v + 1, compSegs)
        writeTombstonesFile(spark, dir, v + 1, tombsKept)
      } else {
        writeManifest(spark, dir, v + 1, newSegs)
        writeTombstonesFile(spark, dir, v + 1, tombs)
      }
      pairs
    }
  }

  /** Delete-wins resolution of one CDC batch: the live upsert rows
    * (ids NOT also deleted in the batch) and the tombstone id set
    * (every touched id — an upsert retires its own old row). */
  private def resolveCdc(upserts: DataFrame, deletes: DataFrame,
                         id: String): (DataFrame, DataFrame) = {
    val delIds = broadcast(deletes
      .select(col(deletes.columns.head).cast("long").as("__del_id"))
      .distinct())
    val live = upserts.join(delIds,
      col(id).cast("long") === col("__del_id"), "left_anti")
    val tombIds = live.select(col(id).cast("long").as("id"))
      .unionByName(delIds.select(col("__del_id").as("id"))).distinct()
    (live, tombIds)
  }

  /**
   * Apply one CDC batch — upserts (id, text) and deletes (id) — in ONE
   * committed version: every touched id's old row is tombstoned, the
   * surviving upserts are probed against the corpus-minus-touched live
   * set (their dup pairs returned, [[ingest]] semantics) and their
   * novel digests land as the version's segment. An id in both sides
   * resolves delete-wins, like the TermIndex/IvfIndex siblings. The
   * returned pairs are materialized pre-flip; the caller unpersists.
   */
  def applyCdc(spark: SparkSession, dir: String, upserts: DataFrame,
               deletes: DataFrame, id: String, text: String,
               cfg: Config = Config()): DataFrame = {
    val (live, tombIds) = resolveCdc(upserts, deletes, id)
    ingestImpl(spark, dir, live, id, text, cfg, Some(tombIds))
  }

  /** Replace `batch`'s docs (old rows tombstoned, new texts probed and
    * ingested) in one commit — [[applyCdc]] with no deletes. */
  def upsert(spark: SparkSession, dir: String, batch: DataFrame,
             id: String, text: String, cfg: Config = Config()): DataFrame =
    applyCdc(spark, dir, batch, batch.select(col(id)).limit(0), id, text, cfg)

  /** The READ-ONLY replay of [[applyCdc]] against a pinned version:
    * resolves the same batch, applies the same in-flight mask, returns
    * the identical pairs — without committing anything. Streaming
    * redelivery re-emits through this (probing the PRE-CDC version,
    * exactly what the original commit computed). */
  def cdcPairsAt(spark: SparkSession, dir: String, version: Int,
                 upserts: DataFrame, deletes: DataFrame, id: String,
                 text: String, cfg: Config = Config()): DataFrame = {
    requireLiveVersion(spark, dir, version)
    val (live, tombIds) = resolveCdc(upserts, deletes, id)
    pairsOf(annotate(spark, dir, version, live, id, text, cfg,
      Some(tombIds)), id)
  }

  /** Tombstone `ids` in a new version (one id-list write, no segment
    * rewrite). Their digests stop being "seen": a later ingest of the
    * same text is novel again and re-enters the index (spec-pinned).
    * Blooms are untouched — they only over-propose; the verify join's
    * tombstone mask keeps results exact. */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String): Int = {
    val v = latestVersion(spark, dir)
    withClaim(spark, dir, v + 1, FormatVersion, "DigestIndex") {
      val dName = f"d${v + 1}%05d${VersionedLayout.fence(dir, v + 1)}"
      ids.select(col(idCol).cast("long").as("id")).distinct()
        .write.mode("overwrite").parquet(tombPath(dir, dName))
      writeManifest(spark, dir, v + 1, readManifest(spark, dir, v))
      writeTombstonesFile(spark, dir, v + 1,
        readTombstones(spark, dir, v) :+ dName)
    }
    v + 1
  }

  /** Fold EVERY segment — tombstones applied physically and retired —
    * into one fresh r-segment. Probes before/after are pair-identical
    * (spec-pinned); the reclaim step after a large delete. */
  def compact(spark: SparkSession, dir: String,
              cfg: Config = Config()): Int = {
    val v = latestVersion(spark, dir)
    withClaim(spark, dir, v + 1, FormatVersion, "DigestIndex") {
      val segs = readManifest(spark, dir, v).filter(_._2 > 0)
      val tombs = readTombstones(spark, dir, v)
      val comp = f"r${v + 1}%05d${VersionedLayout.fence(dir, v + 1)}"
      val folded =
        if (segs.isEmpty) None
        else Some(maskBySeq(
          segs.map(s => readSegData(spark, dir, s._1)
              .withColumn("seg_seq", lit(nameSeq(s._1))))
            .reduce(_.unionByName(_)),
          tombFrame(spark, dir, tombs)).drop("seg_seq"))
      val nC = folded.map(writeSegData(spark, _, dir, comp, cfg)).getOrElse(0L)
      if (nC > 0) writeBloom(spark, dir, comp, nC, cfg)
      writeManifest(spark, dir, v + 1,
        if (nC == 0) Seq.empty else Seq((comp, nC)))
    }
    v + 1
  }

  /** Drop versions older than the last `retainLast`, plus segment and
    * tombstone directories no retained manifest references (the
    * sibling families' gc contract). */
  def gc(spark: SparkSession, dir: String, retainLast: Int): Unit = {
    require(retainLast >= 1, s"retainLast must be >= 1: $retainLast")
    val latest = latestVersion(spark, dir)
    val f = fs(spark, dir)
    val keepFrom = math.max(1, latest - retainLast + 1)
    (1 until keepFrom).foreach(v => f.delete(new Path(versionDir(dir, v)), true))
    val liveVersions = (keepFrom to latest)
      .filter(v => f.exists(new Path(versionDir(dir, v))))
    val referenced = liveVersions
      .flatMap(readManifest(spark, dir, _).map(_._1)).toSet
    val segRoot = new Path(s"${dir.stripSuffix("/")}/segments")
    if (f.exists(segRoot))
      f.listStatus(segRoot).foreach { st =>
        val name = st.getPath.getName
        val num = name.drop(1).takeWhile(_.isDigit).toIntOption
          .getOrElse(Int.MaxValue)
        if (!referenced.contains(name) && num <= latest)
          f.delete(st.getPath, true)
      }
    val refTombs = liveVersions
      .flatMap(readTombstones(spark, dir, _)).toSet
    val tombRoot = new Path(s"${dir.stripSuffix("/")}/tombs")
    if (f.exists(tombRoot))
      f.listStatus(tombRoot).foreach { st =>
        val name = st.getPath.getName
        val num = name.drop(1).takeWhile(_.isDigit).toIntOption
          .getOrElse(Int.MaxValue)
        if (!refTombs.contains(name) && num <= latest)
          f.delete(st.getPath, true)
      }
  }
}
