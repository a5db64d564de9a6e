package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Persisted INCREMENTAL inverted text index for BM25 retrieval — the
 * third member of the index family ([[MinhashIndex]] for near-dup,
 * [[IvfIndex]] for ANN, this for lexical retrieval / data selection).
 * [[Terms.bm25TopK]] rebuilds the corpus inverted index inline on
 * every call — the right shape for one-shot retrieval, and the wrong
 * one for a standing corpus probed by many benchmark suites: at 100 TB
 * the index build IS the dominant cost, so it must be paid once,
 * extended per ingest batch, and probed at candidate cost.
 *
 * Layout (LSM-style, same discipline as the sibling indexes —
 * immutable version dirs + atomically-flipped LATEST + FORMAT marker,
 * [[VersionedLayout]]):
 *
 *   dir/FORMAT, dir/latest/, dir/TERMS      (termsTag sanity marker)
 *   dir/vNNNNN/segments.txt                 ("name,nDocs,nTokens" rows)
 *   dir/vNNNNN/tombstones.txt               (first line "ndMasked,ntMasked",
 *                                           then tombstone names; absent
 *                                           = no deletes outstanding)
 *   dir/segments/sNNNNN/tf/bkt=N/…parquet   ((doc_id, tok, tf, dl))
 *   dir/segments/sNNNNN/df/bkt=N/…parquet   ((tok, df, max_tf, min_dl)
 *                                           — df plus the per-term
 *                                           posting bounds feeding the
 *                                           max-score probe)
 *   dir/segments/sNNNNN/docs/dbkt=N/…       ((doc_id, dl) — the narrow
 *                                           per-doc stats a delete's
 *                                           scalar correction scans,
 *                                           doc-hash partitioned)
 *   dir/tombs/dNNNNN/…parquet               ((doc_id) delete sets; the
 *                                           commit sequence masks
 *                                           STRICTLY older segments,
 *                                           so upserts/re-adds survive)
 *
 * Design points:
 *   - tf rows are DENORMALIZED with the doc length (dl), so probes
 *     never join a corpus-doc-sized table — a candidate row is
 *     self-sufficient for scoring.
 *   - both tables are hash-bucketed on the term (`bkt` partition
 *     column): a probe reads ONLY the `bkt=` directories its
 *     vocabulary hashes to — static partition pruning, candidate-cost
 *     I/O, the `list_id=` discipline of [[IvfIndex]].
 *   - df is per-segment and count-sized; the probe-time GLOBAL df is
 *     the sum over segments of the probe-vocabulary slice, so BM25
 *     scores are always exact over the union corpus — appends never
 *     rewrite old segments, yet scores track the growing corpus
 *     (idf drifts down as terms become common, exactly as a fresh
 *     build would compute).
 *   - corpus scalars (N docs, T tokens) live in the manifest — driver
 *     metadata, no job.
 *   - appends tier-compact like [[IvfIndex]]: batch-sized `s` segments
 *     fold into an `r` segment when the count passes `maxSegments`;
 *     prior `r` segments merge r-with-r only when their own count
 *     trips the cap — O(N) total write volume for N appends, never a
 *     corpus rewrite per append cycle.
 *
 * Contract: [[topKAt]] == [[Terms.bm25TopK]] over the union corpus,
 * pair-for-pair (shared scoring tail — TermIndexSpec asserts it for
 * unigram and bigram terms, across appends and compactions).
 *
 * Docs carry unique ids across batches (the [[MinhashIndex]] ingest
 * assumption). The tombstone layer ([[delete]]/[[upsert]]) retires or
 * replaces docs without rewriting segments: probes mask tf rows in
 * strictly older segments via a broadcast anti-join, the manifest's
 * corpus scalars carry an exact masked-docs/masked-tokens correction
 * (computed at delete time from the narrow per-segment docs stats),
 * and the probe-time df for a version with outstanding tombstones is
 * counted from the masked candidate slice itself — so BM25 stays
 * EXACTLY equal to an inline build over corpus-minus-deleted.
 * Compactions fold tombstones physically and re-base the correction
 * over the segments they keep.
 */
/** A probe batch priced above the index's `maxCandidateFraction` gate:
  * its exact BM25 cost would be linear in the corpus (document-shaped
  * probes — the adjudicated exact-scoring floor). Nothing was scored.
  * Route the batch to the approximate first stage
  * ([[Retrieval.hybridRrfIndexed]]) or re-run with an explicit
  * [[TermIndex.ExactUnbounded]] config for a deliberate exact pass.
  * Carries the priced [[TermIndex.ProbeCost]]. */
final class ProbeCostExceededException(msg: String,
                                       val cost: TermIndex.ProbeCost)
  extends RuntimeException(msg)

object TermIndex {

  import VersionedLayout._

  /** 2 = per-(term, segment) max_tf/min_dl posting stats in the df
    * tables (round 9 — they feed max-score probe pruning); 1 was the
    * plain (tok, df) form. */
  val FormatVersion = 2

  /**
   * @param buckets     term-hash partition count (pruning granularity)
   * @param maxSegments size-tiered compaction threshold
   * @param termsTag    names the term extractor ("unigram", "bigram",
   *                    …) — persisted and re-validated so an index
   *                    built over bigrams can't be silently probed
   *                    with unigrams
   */
  /** `tombMaxBytes`: byte budget for RETAINED tombstone datasets —
    * past it a fold escalates to a full merge so every tombstone
    * retires (the DigestIndex sibling's policy; see its Config doc
    * for the amortization argument).
    *
    * `maxCandidateFraction`: the probe-cost GATE. Every probe batch is
    * priced by [[estimateProbeCost]] (count-sized df slices, no
    * posting read) BEFORE any posting is touched; a batch whose
    * average candidate fraction exceeds this threshold is
    * document-shaped — its exact BM25 cost is linear in the corpus by
    * adjudicated necessity (BENCH_NOTES_r10 §2: the elided tier IS
    * the floor) — and [[topK]]/[[topKAt]] fail fast with the priced
    * estimate instead of walking into hours of exact scoring at
    * 100 TB; route such workloads to the approximate first stage
    * ([[Retrieval.hybridRrfIndexed]], which degrades to its dense leg
    * under the same gate). Search-query-shaped probes (rare-term
    * candidates only) price far below the default and pass untouched.
    * Set [[ExactUnbounded]] for a DELIBERATE exact run — the oracled
    * q_bm25 queries and self-probe ingest streams do, eyes open. */
  /** `smallSegmentPostings`: append/CDC segments at or under this many
    * tf rows write the ONE-FILE sorted layout instead of the bucket-
    * partitioned one (see [[writeSegment]]'s layout note) — the
    * batch-commit constant at steady-state CDC. Small files are
    * written with 4 MB row groups so bucket pruning stays row-group-
    * effective across the whole range (a default-128 MB row group
    * would make a 60 MB segment one unprunable block). 0 disables. */
  case class Config(buckets: Int = 32, maxSegments: Int = 8,
                    termsTag: String = "unigram",
                    tombMaxBytes: Long = 64L * 1024 * 1024,
                    maxCandidateFraction: Double = 0.25,
                    smallSegmentPostings: Long = 4L << 20)

  /** Opt-out value for `Config.maxCandidateFraction`: no gate — a
    * deliberate corpus-linear exact probe run. */
  val ExactUnbounded: Double = Double.PositiveInfinity

  def exists(spark: SparkSession, dir: String): Boolean =
    VersionedLayout.exists(spark, dir)

  def latestVersion(spark: SparkSession, dir: String): Int =
    VersionedLayout.latestVersion(spark, dir, FormatVersion, "TermIndex")

  private def segPath(dir: String, name: String): String =
    s"${dir.stripSuffix("/")}/segments/$name"

  private def tombPath(dir: String, name: String): String =
    s"${dir.stripSuffix("/")}/tombs/$name"

  /** Commit sequence in a segment/tombstone name (s00007/r00007/d00007
    * → 7; a fence-suffixed s00007x1 also → 7); a tombstone masks only
    * STRICTLY smaller sequences. */
  private def nameSeq(name: String): Int =
    name.drop(1).takeWhile(_.isDigit).toInt

  private def writeManifest(spark: SparkSession, dir: String, v: Int,
                            segs: Seq[(String, Long, Long)]): Unit =
    // rename-based fenced manifest commit (lease re-verified AFTER the
    // content write — see VersionedLayout.fencedWrite)
    VersionedLayout.fencedWrite(spark, dir, v, "TermIndex",
      new Path(versionDir(dir, v), "segments.txt"),
      segs.map { case (n, d, t) => s"$n,$d,$t" }.mkString("\n"))

  /** ((ndMasked, ntMasked), tombstone names) for a version; absent
    * file (pre-delete manifests) = no masking. */
  private[graft] def readTombstones(
      spark: SparkSession, dir: String,
      v: Int): ((Long, Long), Seq[String]) = {
    val p = new Path(versionDir(dir, v), "tombstones.txt")
    val f = fs(spark, dir)
    VersionedLayout.fencedReadOpt(f, p) match {
      case None => ((0L, 0L), Seq.empty)
      case Some(s) =>
        val lines = s.split("\n").toSeq
        val Array(nd, nt) = lines.head.split(",")
        ((nd.toLong, nt.toLong), lines.tail.filter(_.nonEmpty))
    }
  }

  private def writeTombstonesFile(spark: SparkSession, dir: String, v: Int,
                                  masked: (Long, Long),
                                  tombs: Seq[String]): Unit =
    if (tombs.nonEmpty)
      VersionedLayout.fencedWrite(spark, dir, v, "TermIndex",
        new Path(versionDir(dir, v), "tombstones.txt"),
        (s"${masked._1},${masked._2}" +: tombs).mkString("\n"))

  private[graft] def readManifest(spark: SparkSession, dir: String,
                                  v: Int): Seq[(String, Long, Long)] = {
    val s = VersionedLayout.fencedRead(fs(spark, dir),
      new Path(versionDir(dir, v), "segments.txt"))
    if (s.isEmpty) Seq.empty
    else s.split("\n").toSeq.map { l =>
      val Array(n, d, t) = l.split(","); (n, d.toLong, t.toLong)
    }
  }

  private def requireTerms(spark: SparkSession, dir: String,
                           cfg: Config): Unit = {
    val f = fs(spark, dir)
    val lines = readSmall(f, new Path(dir, "TERMS")).split("\n")
    val tag = lines.head
    // line 2 (when present; markers written before round 9 have only
    // the tag) is the bucket count — part of the index identity like
    // the terms tag: probing with a different modulus reads the wrong
    // bkt= partitions and silently drops candidates
    lines.lift(1).filter(_.trim.nonEmpty).foreach { line =>
      val b = line.trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"malformed TERMS marker at $dir: bucket line '$line' is not " +
            "an integer"))
      require(b == cfg.buckets,
        s"TermIndex at $dir was built with buckets=$b; this call uses " +
          s"buckets=${cfg.buckets} — probe pruning would read the wrong " +
          "partitions")
    }
    require(tag == cfg.termsTag,
      s"TermIndex at $dir was built with terms '$tag'; this call uses " +
        s"'${cfg.termsTag}' — scores would be silently wrong")
  }

  private def bkt(c: Column, buckets: Int): Column =
    pmod(xxhash64(c), lit(buckets)).cast("int")

  // explicit read schemas: a segment written from an EMPTY batch (a
  // quiet micro-batch in the streaming wrapper) has no parquet files
  // to infer from — schema-pinned reads stay correct either way
  import org.apache.spark.sql.types._
  private val tfSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("tok", StringType),
    StructField("tf", LongType), StructField("dl", LongType),
    StructField("bkt", IntegerType)))
  private val dfSchema = StructType(Seq(
    StructField("tok", StringType), StructField("df", LongType),
    StructField("max_tf", LongType), StructField("min_dl", LongType),
    StructField("bkt", IntegerType)))
  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", LongType),
    StructField("dbkt", IntegerType)))

  private def readTf(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(tfSchema).parquet(s"$path/tf")

  private def readDf(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(dfSchema).parquet(s"$path/df")

  private def readDocs(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(docsSchema).parquet(s"$path/docs")

  /** df stats derived from a segment's committed tf rows: document
    * frequency plus the per-term posting bounds (max tf, min dl) that
    * upper-bound any single posting's BM25 partial score — the
    * max-score statistics of [[topKAt]]'s pruned probe. */
  private def dfFromTf(tf: DataFrame): DataFrame =
    tf.groupBy("tok").agg(count(lit(1)).as("df"),
      max("tf").as("max_tf"), min("dl").as("min_dl"))

  /** Fold per-segment df stats (df sums; the posting bounds stay valid
    * as max/min over segments). */
  private def dfFold(dfs: DataFrame): DataFrame =
    dfs.groupBy("tok").agg(sum("df").as("df"),
      max("max_tf").as("max_tf"), min("min_dl").as("min_dl"))

  private def hasDocs(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(s"$path/docs"))

  /** Write one segment (tf + df + docs stats) and return
    * (nDocs, nTokens) read back from the committed files — the
    * manifest always reflects on-disk truth.
    *
    * LAYOUT, the [[IvfIndex]] small-segment discipline ported: a
    * batch-sized segment (≤ `cfg.smallSegmentPostings` tf rows, probed
    * when `maybeSmall`) writes each table as ONE file SORTED by its
    * bucket column with the bucket as a data column — commit cost
    * O(batch), not O(buckets) directory fan-out (the three 32-way
    * partitionBy writes cost a batch-size-INDEPENDENT ~5 s/commit at
    * 500k in ProfileTidxChurn — ~96 task commits for a 10k-row batch).
    * Probes filter the same `bkt` column either way: partition pruning
    * on the partitioned layout, row-group stats pruning on the sorted
    * one-file layout (the file is batch-sized — reading it whole would
    * also be fine). Corpus-sized segments (build, compaction folds)
    * keep the partitioned layout, whose per-bucket files are then
    * row-group-sized. Readers are layout-blind: the schema-pinned
    * reads surface `bkt`/`dbkt` as a column from either layout. */
  private def writeSegment(spark: SparkSession, corpus: DataFrame,
                           id: String, text: String, cfg: Config,
                           terms: Column => Column, path: String,
                           maybeSmall: Boolean = false): (Long, Long) = {
    val tfRaw = corpus
      .select(col(id).cast("long").as("doc_id"),
        explode(terms(col(text))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // dl rides every row (doc-partitioned window over the one-row-per-
    // (doc,term) frame — group size bounded by a doc's vocabulary)
    val tf = tfRaw
      .withColumn("dl", sum("tf").over(Window.partitionBy("doc_id")))
      .withColumn("bkt", bkt(col("tok"), cfg.buckets))
    val tfP = if (maybeSmall) tf.persist() else tf
    val tfRows =
      if (maybeSmall) phased(spark, "seg-tf-count")(tfP.count()) else 0L
    val small = maybeSmall && tfRows <= cfg.smallSegmentPostings
    // sharded sorted write: coalesce(1) serialized the whole segment
    // write through ONE task, and the batch (2% churn) grows with the
    // corpus — the term ProfileTidxChurn pinned as ~3 s of the ~8 s
    // steady commit at 500k. repartitionByRange keeps the GLOBAL
    // (bkt, tok) sort order across files (range partitioning), so
    // probe-side row-group stats pruning is unchanged, while the file
    // count stays a small CONSTANT (≤ 8 per table — still ~an order
    // under the partitioned layout's ~96/commit, the DFS
    // metadata-pressure term the one-file layout exists to bound).
    def sortedShards(n: Long): Int =
      math.min(8L, math.max(1L, n / 300000L + 1)).toInt
    def writeSorted(df: DataFrame, n: Long, sortCols: Seq[String],
                    out: String): Unit = {
      val s = sortedShards(n)
      val arranged =
        if (s == 1) df.coalesce(1).sortWithinPartitions(
          sortCols.head, sortCols.tail: _*)
        else df.repartitionByRange(s, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
      arranged.write.mode("overwrite")
        .option("parquet.block.size", 4L * 1024 * 1024)
        .parquet(out)
    }
    try {
      phased(spark, "seg-tf-write") {
        if (small)
          writeSorted(tfP, tfRows, Seq("bkt", "tok"), s"$path/tf")
        else
          // repartition on the partition column first: without it every
          // shuffle partition writes a sliver into every bkt= dir —
          // buckets × tasks files per segment, and the probe-side scan
          // goes file-bound (measured 1.2× SLOWER than inline at 500k
          // docs before this; one file per bucket restores big row
          // groups)
          tfP.repartition(col("bkt"))
            .write.mode("overwrite").partitionBy("bkt").parquet(s"$path/tf")
      }
      // derived tables: the big path re-reads the committed files (the
      // manifest-reflects-disk discipline for corpus-sized lineage);
      // the small path derives from the CACHED tf — materialized by
      // the count, so equally stable, and each derivation is then an
      // in-memory agg instead of a file re-read
      val committed = if (small) tfP else readTf(spark, path)
      phased(spark, "seg-df-write") {
        if (small)
          // df is one row per distinct term — size it by tfRows/4 (the
          // observed posting-to-term ratio is well above that; the
          // shard count only needs the right order of magnitude)
          writeSorted(dfFromTf(committed)
            .withColumn("bkt", bkt(col("tok"), cfg.buckets)),
            tfRows / 4, Seq("bkt", "tok"), s"$path/df")
        else
          dfFromTf(committed)
            .withColumn("bkt", bkt(col("tok"), cfg.buckets))
            .repartition(col("bkt"))
            .write.mode("overwrite").partitionBy("bkt").parquet(s"$path/df")
      }
      phased(spark, "seg-docs-write") {
        writeDocsStats(spark, path, committed, cfg, small)
      }
      val r = phased(spark, "seg-counts") {
        committed.agg(countDistinct(col("doc_id")), sum("tf")).head()
      }
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    } finally if (maybeSmall) tfP.unpersist(blocking = false)
  }

  /** The narrow (doc_id, dl) per-segment stats, doc-hash partitioned —
    * what a delete's scalar correction scans instead of the tf body. */
  private def writeDocsStats(spark: SparkSession, path: String,
                             committedTf: DataFrame, cfg: Config,
                             small: Boolean = false): Unit = {
    val d = committedTf.select(col("doc_id"), col("dl")).distinct()
      .withColumn("dbkt", pmod(xxhash64(col("doc_id")), lit(cfg.buckets)).cast("int"))
    if (small)
      d.coalesce(1).sortWithinPartitions("dbkt", "doc_id")
        .write.mode("overwrite")
        .option("parquet.block.size", 4L * 1024 * 1024)
        .parquet(s"$path/docs")
    else
      d.repartition(col("dbkt"))
        .write.mode("overwrite").partitionBy("dbkt").parquet(s"$path/docs")
  }

  /** Create the index at `dir` from an initial corpus; returns the
    * committed version (1). */
  def build(spark: SparkSession, corpus: DataFrame, id: String,
            text: String, dir: String, cfg: Config = Config(),
            terms: Column => Column = TF.tokens): Int = {
    withClaim(spark, dir, 1, FormatVersion, "TermIndex") {
      // compaction-class by construction — `r` keeps the corpus out of
      // the batch-tier s-folds and under the size-matched merge rule
      val seg = "r00001" + VersionedLayout.fence(dir, 1)
      require(!cfg.termsTag.contains("\n"),
        s"termsTag must be single-line, got '${cfg.termsTag}'")
      val (nd, nt) = writeSegment(spark, corpus, id, text, cfg, terms,
        segPath(dir, seg))
      writeManifest(spark, dir, 1, Seq((seg, nd, nt)))
      writeMarker(spark, dir, "TERMS", s"${cfg.termsTag}\n${cfg.buckets}")
    }
    1
  }

  /** Union of tombstone id sets as (t_id, t_seq) — None when empty.
    * `d` datasets carry one doc_id column (sequence = the name);
    * `c` datasets are COALESCED — (doc_id, seq) rows, the max sequence
    * per id over the datasets a fold folded together (EXACT: a row at
    * seg_seq g is masked iff any tombstone of its id has seq > g, and
    * max-seq preserves that predicate verbatim). Folds coalesce so a
    * churn stream's tombstone-dataset count — and the probe-side
    * broadcast — stays bounded by distinct churned ids instead of one
    * dataset per commit while a kept base segment pins them live. */
  private def tombFrame(spark: SparkSession, dir: String,
                        tombs: Seq[String]): Option[DataFrame] =
    if (tombs.isEmpty) None
    else Some(tombs.map { d =>
        import org.apache.spark.sql.types._
        if (d.startsWith("c"))
          spark.read.schema(StructType(Seq(StructField("doc_id", LongType),
              StructField("seq", IntegerType))))
            .parquet(tombPath(dir, d))
            .select(col("doc_id").as("t_id"), col("seq").as("t_seq"))
        else
          spark.read.schema(StructType(Seq(StructField("doc_id", LongType))))
            .parquet(tombPath(dir, d))
            .select(col("doc_id").as("t_id"), lit(nameSeq(d)).as("t_seq"))
      }.reduce(_.unionByName(_)))

  /** Coalesce retained tombstone datasets into ONE (doc_id, max seq)
    * dataset when they have piled up — called at fold commits. */
  private def coalesceTombs(spark: SparkSession, dir: String, v: Int,
                            tombs: Seq[String]): Seq[String] =
    if (tombs.length < 3) tombs
    else {
      val cName = f"c$v%05d${VersionedLayout.fence(dir, v)}"
      tombFrame(spark, dir, tombs).get
        .groupBy("t_id").agg(max("t_seq").as("seq"))
        .select(col("t_id").as("doc_id"), col("seq"))
        .write.mode("overwrite").parquet(tombPath(dir, cName))
      Seq(cName)
    }

  /** Mask rows carrying (doc_id, seg_seq) by tombstones with a strictly
    * greater sequence; drops seg_seq. */
  private def maskBySeq(df: DataFrame, tombF: Option[DataFrame]): DataFrame =
    tombF match {
      case None => df.drop("seg_seq")
      case Some(t) => df.join(broadcast(t),
          col("doc_id") === col("t_id") && col("t_seq") > col("seg_seq"),
          "left_anti").drop("seg_seq")
    }

  /** Live (count, Σdl) of the id set at `idsPath` across `segs` under
    * `tombs` — the exact scalar correction a new tombstone adds. Scans
    * only the ids' hash buckets of the narrow per-segment docs stats. */
  private def liveDelta(spark: SparkSession, dir: String,
                        segs: Seq[(String, Long, Long)],
                        tombs: Seq[String], idsPath: String,
                        cfg: Config): (Long, Long) = {
    import org.apache.spark.sql.types._
    segs.foreach { case (s, _, _) =>
      require(hasDocs(spark, segPath(dir, s)),
        s"segment $s predates the tombstone layer (no docs stats): " +
          "run a size-compacting append first, then delete/upsert")
    }
    val delDf = spark.read
      .schema(StructType(Seq(StructField("doc_id", LongType))))
      .parquet(idsPath)
    val dbkts = delDf
      .select(pmod(xxhash64(col("doc_id")), lit(cfg.buckets)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (dbkts.isEmpty) return (0L, 0L)
    val docsU = segs.map { case (s, _, _) =>
        readDocs(spark, segPath(dir, s))
          .filter(col("dbkt").isin(dbkts: _*))
          .withColumn("seg_seq", lit(nameSeq(s)))
      }.reduce(_.unionByName(_))
    val hit = maskBySeq(docsU, tombFrame(spark, dir, tombs))
      .join(broadcast(delDf), Seq("doc_id"), "left_semi")
      .agg(count(lit(1)), sum("dl")).head()
    (hit.getLong(0), if (hit.isNullAt(1)) 0L else hit.getLong(1))
  }

  /**
   * Tombstone `ids` in a new version: probes at or after it never see
   * them (scores re-normalize exactly — N, total tokens and df all
   * shed the deleted docs); pinned older versions replay unchanged.
   * Physical removal happens at the next compaction folding their
   * segments; until then a delete costs one id-list write plus a
   * pruned scan of the narrow per-segment docs stats.
   */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
             cfg: Config = Config()): Int = {
    val v = latestVersion(spark, dir)
    withClaim(spark, dir, v + 1, FormatVersion, "TermIndex") {
      requireTerms(spark, dir, cfg)
      val segs = readManifest(spark, dir, v)
      val (masked, tombs) = readTombstones(spark, dir, v)
      val dName = f"d${v + 1}%05d${VersionedLayout.fence(dir, v + 1)}"
      ids.select(col(ids.columns.head).cast("long").as("doc_id")).distinct()
        .write.mode("overwrite").parquet(tombPath(dir, dName))
      val (nd, nt) = liveDelta(spark, dir, segs, tombs,
        tombPath(dir, dName), cfg)
      writeManifest(spark, dir, v + 1, segs)
      writeTombstonesFile(spark, dir, v + 1,
        (masked._1 + nd, masked._2 + nt),
        if (nd == 0) tombs else tombs :+ dName)
    }
    v + 1
  }

  /**
   * Append one batch as a new segment; tier-compacts when the segment
   * count passes the cap. A crash before the LATEST flip strands only
   * the new segment, which the retry overwrites (same name) and [[gc]]
   * reaps. Returns the committed version.
   */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             id: String, text: String, cfg: Config = Config(),
             terms: Column => Column = TF.tokens): Int =
    appendImpl(spark, dir, batch, id, text, cfg, terms, tombIds = None)

  /** Append `batch` AND tombstone its ids in the same commit — the
    * update face: old copies in strictly older segments stop scoring,
    * the rows written here survive. One atomic LATEST flip. */
  def upsert(spark: SparkSession, dir: String, batch: DataFrame,
             id: String, text: String, cfg: Config = Config(),
             terms: Column => Column = TF.tokens): Int =
    appendImpl(spark, dir, batch, id, text, cfg, terms,
      tombIds = Some(batch.select(col(id))))

  /** Apply one CDC batch — upserted docs AND deleted ids — in ONE
    * atomic commit (single tombstone + single segment), the
    * exactly-once shape a streaming CDC wrapper pairs with a batch id.
    * BM25 stays exact over the resulting corpus. An id present in BOTH
    * frames resolves as delete-wins: its upsert row is dropped before
    * the segment write (the tombstone masks only strictly-older
    * segments, so without the drop a same-commit row would survive its
    * own delete). Callers with op ordering must pre-resolve to the
    * final op per id; this is the safe collapse for unordered batches. */
  def applyCdc(spark: SparkSession, dir: String, upserts: DataFrame,
               deletes: DataFrame, id: String, text: String,
               cfg: Config = Config(),
               terms: Column => Column = TF.tokens): Int = {
    val delIds = deletes.select(col(deletes.columns.head).as(id))
    val live = upserts.join(broadcast(delIds), Seq(id), "left_anti")
    appendImpl(spark, dir, live, id, text, cfg, terms,
      tombIds = Some(live.select(col(id)).unionByName(delIds)))
  }

  /** Per-phase wall-clock attribution for the commit path, printed
    * when `graft.tidx.profile=true` — the ProfileTidxChurn
    * decomposition knob (the [[IvfIndex]] sibling's pattern). Costs
    * one conf read per use when off. */
  private def phased[T](spark: SparkSession, tag: String)(f: => T): T =
    if (spark.conf.getOption("graft.tidx.profile").contains("true")) {
      val t0 = System.nanoTime()
      val x = f
      println(f"    [tidx-phase] $tag%-22s ${(System.nanoTime() - t0) / 1e9}%7.3fs")
      x
    } else f

  private def appendImpl(spark: SparkSession, dir: String, batch: DataFrame,
                         id: String, text: String, cfg: Config,
                         terms: Column => Column,
                         tombIds: Option[DataFrame]): Int = {
    val v = latestVersion(spark, dir)
    withClaim(spark, dir, v + 1, FormatVersion, "TermIndex") {
      requireTerms(spark, dir, cfg)
      val segsPrev = readManifest(spark, dir, v)
      val (maskedPrev, tombsPrev) = readTombstones(spark, dir, v)
      val fx = VersionedLayout.fence(dir, v + 1)
      var masked = maskedPrev
      var tombs = tombsPrev
      tombIds.foreach { t =>
        val dName = f"d${v + 1}%05d$fx"
        phased(spark, "tombstone-write") {
          t.select(col(t.columns.head).cast("long").as("doc_id")).distinct()
            .write.mode("overwrite").parquet(tombPath(dir, dName))
        }
        val (dnd, dnt) = phased(spark, "live-delta") {
          liveDelta(spark, dir, segsPrev, tombsPrev,
            tombPath(dir, dName), cfg)
        }
        if (dnd > 0) {
          masked = (maskedPrev._1 + dnd, maskedPrev._2 + dnt)
          tombs = tombsPrev :+ dName
        }
      }
      val seg = f"s${v + 1}%05d$fx"
      val (nd, nt) = phased(spark, "segment-write") {
        // append/CDC batches are the small-segment candidates; build
        // and fold outputs stay bucket-partitioned (corpus-sized)
        writeSegment(spark, batch, id, text, cfg, terms,
          segPath(dir, seg), maybeSmall = cfg.smallSegmentPostings > 0)
      }
      val newSegs = segsPrev :+ ((seg, nd, nt))
      if (newSegs.length > cfg.maxSegments) {
        // size-tiered: fold the batch-sized `s` segments into one new
        // `r`; keep prior `r` segments unless their own count trips
        // the cap — and then merge only a SIZE-MATCHED subset
        // ([[VersionedLayout.tierMergeSet]] over the manifest's
        // per-segment token counts): the corpus-sized base r joins a
        // merge only once the newer tiers accumulate comparable mass,
        // so each posting rewrites O(log n) times total and a
        // constant-size churn stream never amortizes a corpus rewrite
        // per fold cycle. Identical policy to IvfIndex/DigestIndex.
        // Outstanding tombstones are applied PHYSICALLY to the folded
        // rows.
        val (rSegs, sSegs) = newSegs.partition(_._1.startsWith("r"))
        // tombstone byte budget (sibling policy, see Config): past it,
        // escalate to a full merge so every tombstone retires
        val escalate = tombs.nonEmpty && {
          val f = fs(spark, dir)
          tombs.map { t =>
            val p = new Path(tombPath(dir, t))
            if (f.exists(p)) f.getContentSummary(p).getLength else 0L
          }.sum > cfg.tombMaxBytes
        }
        val rMerge: Set[String] =
          if (escalate) rSegs.map(_._1).toSet
          else if (rSegs.length < cfg.maxSegments) Set.empty
          else VersionedLayout.tierMergeSet(rSegs.map(s => s._1 -> s._3))
        val toMerge = sSegs ++ rSegs.filter(s => rMerge(s._1))
        val kept = rSegs.filterNot(s => rMerge(s._1))
        val comp = f"r${v + 1}%05d$fx"
        val tombF = tombFrame(spark, dir, tombs)
        phased(spark, "fold-tf") {
          val tfU = toMerge.map(s => readTf(spark, segPath(dir, s._1))
              .withColumn("seg_seq", lit(nameSeq(s._1))))
            .reduce(_.unionByName(_))
          maskBySeq(tfU, tombF)
            .repartition(col("bkt"))
            .write.mode("overwrite").partitionBy("bkt")
            .parquet(s"${segPath(dir, comp)}/tf")
        }
        val committed = readTf(spark, segPath(dir, comp))
        phased(spark, "fold-df") {
        if (tombs.isEmpty)
          // df re-derives from the count-sized per-segment df tables —
          // the corpus-sized tf is unioned once for the write, not
          // re-agged (posting bounds fold as max/min; they may be LOOSER
          // than a recount after masked rows vanish, which only weakens
          // pruning, never exactness)
          dfFold(toMerge.map(s => readDf(spark, segPath(dir, s._1)))
              .reduce(_.unionByName(_)))
            .withColumn("bkt", bkt(col("tok"), cfg.buckets))
            .repartition(col("bkt"))
            .write.mode("overwrite").partitionBy("bkt")
            .parquet(s"${segPath(dir, comp)}/df")
        else
          // rows were masked: df must recount from the committed fold
          dfFromTf(committed)
            .withColumn("bkt", bkt(col("tok"), cfg.buckets))
            .repartition(col("bkt"))
            .write.mode("overwrite").partitionBy("bkt")
            .parquet(s"${segPath(dir, comp)}/df")
        }
        val (ndC, ntC) = phased(spark, "fold-docs-stats") {
          writeDocsStats(spark, segPath(dir, comp), committed, cfg)
          val rr = committed.agg(countDistinct(col("doc_id")), sum("tf"))
            .head()
          (rr.getLong(0), if (rr.isNullAt(1)) 0L else rr.getLong(1))
        }
        // retire tombstones no kept segment is older than; re-base the
        // masked scalars over the KEPT segments only (the folded copies
        // are physically gone and the comp read-back already excludes
        // them). One semi-join counts each masked row exactly once.
        val (maskedKept, tombsKept) = phased(spark, "fold-rebase") {
          val tk = coalesceTombs(spark, dir, v + 1,
            tombs.filter(t => kept.exists(s => nameSeq(s._1) < nameSeq(t))))
          val mk =
            if (tk.isEmpty) (0L, 0L)
            else {
              val docsU = kept.map { case (s, _, _) =>
                  readDocs(spark, segPath(dir, s))
                    .withColumn("seg_seq", lit(nameSeq(s)))
                }.reduce(_.unionByName(_))
              val t = tombFrame(spark, dir, tk).get
              val m = docsU.join(broadcast(t),
                  col("doc_id") === col("t_id") &&
                    col("t_seq") > col("seg_seq"),
                  "left_semi")
                .agg(count(lit(1)), sum("dl")).head()
              (m.getLong(0), if (m.isNullAt(1)) 0L else m.getLong(1))
            }
          (mk, tk)
        }
        phased(spark, "manifest") {
          writeManifest(spark, dir, v + 1, kept :+ ((comp, ndC, ntC)))
          writeTombstonesFile(spark, dir, v + 1, maskedKept, tombsKept)
        }
      } else {
        writeManifest(spark, dir, v + 1, newSegs)
        writeTombstonesFile(spark, dir, v + 1, masked, tombs)
      }
    }
    v + 1
  }

  /**
   * Maintenance compaction: fold EVERY manifest segment — applying all
   * outstanding tombstones physically — into one fresh r-segment in a
   * new version, with df/doc-stats/corpus scalars recounted from the
   * committed fold. The reclaim step after a large delete; scores
   * before/after are pair-identical (spec-pinned).
   */
  def compact(spark: SparkSession, dir: String,
              cfg: Config = Config()): Int = {
    val v = latestVersion(spark, dir)
    withClaim(spark, dir, v + 1, FormatVersion, "TermIndex") {
      requireTerms(spark, dir, cfg)
      val segs = readManifest(spark, dir, v)
      require(segs.nonEmpty, s"nothing to compact at $dir")
      val (_, tombs) = readTombstones(spark, dir, v)
      val comp = f"r${v + 1}%05d${VersionedLayout.fence(dir, v + 1)}"
      val tfU = segs.map(s => readTf(spark, segPath(dir, s._1))
          .withColumn("seg_seq", lit(nameSeq(s._1))))
        .reduce(_.unionByName(_))
      maskBySeq(tfU, tombFrame(spark, dir, tombs))
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt")
        .parquet(s"${segPath(dir, comp)}/tf")
      val committed = readTf(spark, segPath(dir, comp))
      dfFromTf(committed)
        .withColumn("bkt", bkt(col("tok"), cfg.buckets))
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt")
        .parquet(s"${segPath(dir, comp)}/df")
      writeDocsStats(spark, segPath(dir, comp), committed, cfg)
      val r = committed.agg(countDistinct(col("doc_id")), sum("tf")).head()
      val (nd, nt) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      writeManifest(spark, dir, v + 1, Seq((comp, nd, nt)))
      // every masked segment folded: all tombstones retire, correction 0
    }
    v + 1
  }

  private[graft] def requireLiveVersion(spark: SparkSession, dir: String,
                                        version: Int): Unit = {
    val latest = latestVersion(spark, dir)
    require(version >= 1 && version <= latest,
      s"version $version not committed (latest $latest)")
    require(fs(spark, dir).exists(new Path(versionDir(dir, version))),
      s"version $version was garbage-collected")
  }

  /** Top-k over the current committed version. */
  def topK(spark: SparkSession, dir: String, probes: DataFrame,
           id: String, text: String, k: Int, cfg: Config = Config(),
           terms: Column => Column = TF.tokens): DataFrame =
    topKAt(spark, dir, latestVersion(spark, dir), probes, id, text, k,
      cfg, terms)

  /**
   * Top-k corpus docs per probe at a pinned version — pair-for-pair
   * equal to [[Terms.bm25TopK]] over the same corpus.
   *
   * A version whose manifest holds at most [[SnapshotMaxTokens]]
   * tokens, probed by a batch that walks at most [[SnapshotMaxWalk]]
   * postings, is served from driver-side snapshots of its segments
   * ([[localProbe]]): no Spark job once its segments are cached,
   * beyond one collect of the probe tokens. Larger versions and
   * batches run the Spark scan, [[topKAtScan]]. Both apply the same
   * probe-cost gate and return the same rows.
   */
  def topKAt(spark: SparkSession, dir: String, version: Int,
             probes: DataFrame, id: String, text: String, k: Int,
             cfg: Config = Config(),
             terms: Column => Column = TF.tokens): DataFrame = {
    require(k > 0, "k must be > 0")
    requireLiveVersion(spark, dir, version)
    localProbe(spark, dir, version, probes, id, text, cfg, terms) match {
      case Some(lp) =>
        enforceGate(cfg, lp.cost)
        lp.topKFrame(spark, k)
      case None =>
        topKAtScan(spark, dir, version, probes, id, text, k, cfg, terms)
    }
  }

  /** Throws [[ProbeCostExceededException]] when `cost` prices the
    * batch above `cfg`'s gate; `cost` is not evaluated when the gate
    * is off. */
  private def enforceGate(cfg: Config, cost: => ProbeCost): Unit =
    if (!cfg.maxCandidateFraction.isPosInfinity) {
      val c = cost
      if (c.candidateFraction > cfg.maxCandidateFraction)
        throw new ProbeCostExceededException(
          f"probe batch priced ABOVE the exact-scoring gate: average " +
            f"candidate fraction ${c.candidateFraction}%.3f > " +
            f"maxCandidateFraction ${cfg.maxCandidateFraction}%.3f " +
            f"(${c.probeCount} probes would score " +
            f"${c.scoredPostings} postings against ${c.corpusDocs} " +
            "docs — document-shaped, corpus-linear by the adjudicated " +
            "exact floor). Nothing was scored. Route the batch to the " +
            "approximate first stage (Retrieval.hybridRrfIndexed) or " +
            "set maxCandidateFraction = TermIndex.ExactUnbounded for a " +
            "deliberate exact run.", c)
    }

  /**
   * [[topKAt]] as a Spark scan — the path for versions above the
   * snapshot bound, and the reference the specs compare the snapshot
   * path with. Steady-state cost: the probe-vocabulary `bkt=`
   * partitions of each segment's df (count-sized) and tf
   * (candidate-sized) — nothing corpus-wide is scanned, no doc-length
   * table is joined (dl rides the tf rows).
   *
   * Probes ALWAYS run the MAX-SCORE pruned plan ([[maxScoreProbe]]):
   * only rare, high-impact terms generate candidates; common terms'
   * postings merely complete the scores of the few candidates that can
   * still reach the top-k — exact by the θ/upper-bound argument
   * documented there, with a per-probe fallback to the unpruned plan
   * whenever pruning would be unsound. With tombstones outstanding the
   * per-term stats (exact masked df + posting bounds) are COUNTED from
   * the tombstone-masked probe-vocabulary tf slice in one term-keyed
   * aggregate — a scan-cost pass, so pruning still eliminates the
   * per-(probe,doc) scoring aggregate + rank that tracks corpus size;
   * a CDC-heavy index never loses pruning between compactions.
   *
   * SCALE CAVEAT (adjudicated, BENCH_NOTES_r10 §2): document-shaped
   * probes — hundreds of distinct terms — have candidate sets ≈ the
   * corpus, and their EXACT cost is linear in the corpus by necessity
   * (the elided tier is the proven floor). Gate batch workloads with
   * [[estimateProbeCost]] and route retrieval-style document probes
   * to the approximate first stage ([[Retrieval]]'s indexed
   * hybrid-RRF) instead.
   */
  private[graft] def topKAtScan(spark: SparkSession, dir: String,
                                version: Int, probes: DataFrame,
                                id: String, text: String, k: Int,
                                cfg: Config = Config(),
                                terms: Column => Column = TF.tokens)
      : DataFrame = {
    require(k > 0, "k must be > 0")
    requireLiveVersion(spark, dir, version)
    requireTerms(spark, dir, cfg)
    // default-on probe-cost gate: price the batch from the count-sized
    // df slices BEFORE any posting is read, and refuse document-shaped
    // batches whose exact cost is corpus-linear (see Config's
    // maxCandidateFraction doc; ExactUnbounded opts out deliberately)
    enforceGate(cfg, estimateProbeCostScan(spark, dir, version, probes,
      id, text, cfg, terms))
    val segs = readManifest(spark, dir, version)
    val (masked, tombs) = readTombstones(spark, dir, version)
    // corpus scalars shed the tombstoned docs exactly (the manifest
    // carries their count/Σdl correction)
    val n = segs.map(_._2).sum - masked._1
    val tt = segs.map(_._3).sum - masked._2
    val tombF = tombFrame(spark, dir, tombs)
    val probeTerms = probes.select(col(id).as("probe_id"),
        explode(array_distinct(terms(col(text)))).as("tok"))
      .persist()
    val out = maxScoreProbe(spark, dir, segs, n, tt, probeTerms, k,
      cfg, tombF)
    // the persist existed for the driver-round collects above; release
    // it now so per-micro-batch probes don't accumulate cache
    // generations for the life of a stream. Execution after this point
    // re-derives the cheap probe tokenization from lineage inside the
    // broadcast exchanges.
    probeTerms.unpersist(blocking = false)
    out
  }

  /** What a probe batch will cost before any posting is touched.
    * `scoredPostings` = Σ over probes of Σ df over the probe's
    * positive-idf terms — EXACTLY the tf rows the tier-2 (elided)
    * plan scores, the adjudicated exact-scoring floor for
    * document-shaped probes (BENCH_NOTES_r10 §2). `candidateFraction`
    * ≈ the average fraction of the corpus each probe candidates:
    * near 0 for search-query-shaped probes (rare-term candidates
    * only), approaching 1 for document-shaped probes, whose exact
    * cost is therefore irreducibly linear in the corpus. */
  final case class ProbeCost(scoredPostings: Long, maxProbePostings: Long,
                             probeCount: Long, corpusDocs: Long) {
    def candidateFraction: Double =
      if (probeCount == 0 || corpusDocs == 0) 0.0
      else scoredPostings.toDouble / (probeCount.toDouble * corpusDocs)
  }

  /** Pre-flight guardrail for document-scale probe batches: estimate
    * the exact-scoring work of [[topK]] from the COUNT-SIZED df slices
    * alone (probe-vocabulary `bkt=` partitions; no posting is read, so
    * this costs about one stats round regardless of corpus size).
    * A batch whose `candidateFraction` approaches 1 is document-shaped
    * — its exact BM25 cost is linear in the corpus by adjudicated
    * necessity (the elided tier IS the floor; the impact-ordered tier
    * was measured 2.3-3.2× slower and rejected) — and a retrieval
    * deployment should route it to the approximate first stage
    * ([[Retrieval]]'s indexed hybrid-RRF over this index + IvfIndex)
    * instead of stumbling into hours of exact scoring at 100 TB.
    * With tombstones outstanding the stored df are upper bounds
    * (sound for a pre-flight gate; [[topKAt]] itself recounts
    * exactly). */
  def estimateProbeCost(spark: SparkSession, dir: String,
                        probes: DataFrame, id: String, text: String,
                        cfg: Config = Config(),
                        terms: Column => Column = TF.tokens): ProbeCost =
    estimateProbeCostAt(spark, dir, latestVersion(spark, dir), probes,
      id, text, cfg, terms)

  /** [[estimateProbeCost]] against a pinned version — what the
    * default-on probe gate inside [[topKAt]] prices. Priced from the
    * version's segment snapshots when [[topKAt]] would serve it from
    * them, else by [[estimateProbeCostScan]]; both give equal costs. */
  def estimateProbeCostAt(spark: SparkSession, dir: String, version: Int,
                          probes: DataFrame, id: String, text: String,
                          cfg: Config = Config(),
                          terms: Column => Column = TF.tokens): ProbeCost =
    localProbe(spark, dir, version, probes, id, text, cfg, terms)
      .map(_.cost)
      .getOrElse(estimateProbeCostScan(spark, dir, version, probes, id,
        text, cfg, terms))

  /** [[estimateProbeCostAt]] from the stored df slices, in Spark. */
  private[graft] def estimateProbeCostScan(
      spark: SparkSession, dir: String, version: Int, probes: DataFrame,
      id: String, text: String, cfg: Config = Config(),
      terms: Column => Column = TF.tokens): ProbeCost = {
    requireTerms(spark, dir, cfg)
    val segs = readManifest(spark, dir, version)
    val (masked, _) = readTombstones(spark, dir, version)
    val n = segs.map(_._2).sum - masked._1
    val tt = segs.map(_._3).sum - masked._2
    val probeTerms = probes.select(col(id).as("probe_id"),
      explode(array_distinct(terms(col(text)))).as("tok"))
    val bkts = probeTerms.select(bkt(col("tok"), cfg.buckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (bkts.isEmpty) return ProbeCost(0L, 0L, 0L, n)
    val dfStats = dfFold(
        segs.map(s => readDf(spark, segPath(dir, s._1))
            .filter(col("bkt").isin(bkts: _*)))
          .reduce(_.unionByName(_))
          .join(broadcast(probeTerms.select("tok").distinct()), "tok"))
      .withColumn("n", lit(n)).withColumn("tt", lit(tt))
      .withColumn("idf_q", expr(Terms.bm25IdfSql))
      .filter(col("idf_q") >= 1)
      .select("tok", "df")
    val perProbe = probeTerms.join(broadcast(dfStats), "tok")
      .groupBy("probe_id").agg(sum("df").as("w"))
      .agg(coalesce(sum("w"), lit(0L)), coalesce(max("w"), lit(0L)))
      .head()
    val nProbes = probes.select(col(id)).distinct().count()
    ProbeCost(perProbe.getLong(0), perProbe.getLong(1), nProbes, n)
  }

  /** Essential-term pivot of the max-score probe: terms with idf_q at
    * or above this generate candidates; the rest only complete
    * survivors' scores. idf_q ≥ 3 ⇔ df ≲ n/9 — the zipf tail, whose
    * total postings mass is bounded, while the excluded head (df up to
    * n) is exactly what made probe cost track corpus size. ANY pivot
    * is exact — the θ test below falls back when pruning is unsound. */
  private val MaxScorePivotIdf = 3

  /** Tier-1 (classic max-score) is attempted only for probes with at
    * most this many distinct terms — its regime is search-query-shaped
    * probes, where B_C is a handful of common-term bounds a rare-term
    * θ can clear. Document-shaped probes (hundreds of terms) route
    * straight to tier 2: their B_C is unbeatable by construction, and
    * attempting tier 1 would waste its phase-1 pass. Routing only —
    * exactness never depends on this. */
  private val MaxScoreT1MaxTerms = 16L

  /** Observability for specs/stress harnesses: (pruned, fallback)
    * probe counts of the most recent [[maxScoreProbe]] decision —
    * pruned counts both tiers; fallback is probes neither tier could
    * prune (they ran the classic plan). */
  @volatile private[graft] var lastMaxScoreDecision: (Long, Long) = (0L, 0L)

  /**
   * Max-score / TA-style EXACT top-k with impact-ordered term classes
   * — TWO pruning tiers matched to the two probe shapes this engine
   * sees, each exact with a per-probe fallback.
   *
   * Let U(t) = the per-posting score upper bound of term t (its
   * (max_tf, min_dl) posting bounds substituted into the monotone
   * partial-score kernel — [[Terms.bm25PartialSql]]). On tombstone-free
   * versions the bounds come from the count-sized per-segment df
   * stats; with tombstones outstanding ALL per-term stats — exact
   * masked df and the bounds — are recomputed from the masked
   * probe-vocabulary tf slice in one term-keyed aggregate (scan cost,
   * never a per-(probe,doc) aggregate). Either source is sound:
   * masking only removes postings, so stored bounds stay upper bounds,
   * and the recomputed ones are simply tighter; exactness never
   * depends on tightness, only the pruning rate does.
   *
   * TIER 1 (classic max-score — few-term, search-query-shaped probes;
   * attempted only when the probe has ≤ [[MaxScoreT1MaxTerms]] terms
   * and B_R := Σ_{idf≥pivot} U exceeds B_C := Σ_{idf<pivot} U, both
   * known from stats alone — B_R is an upper bound on any achievable
   * θ, so B_R ≤ B_C can never pass the test below):
   *  - Phase 1 scores ONLY essential postings (idf_q ≥
   *    [[MaxScorePivotIdf]]): P(d) = Σ_{t∈R∩d} s(t,d); θ = the k-th
   *    largest P per probe.
   *  - The probe prunes iff it has ≥ k candidates AND θ > B_C: a doc
   *    with no essential term scores ≤ B_C < θ ≤ (true k-th score),
   *    strictly — out even via the doc_id tie-break; a candidate with
   *    P + B_C < θ likewise. Survivors {P + B_C ≥ θ} are completed
   *    EXACTLY by the common postings (idf ≥ 1 only) semi-joined down
   *    to survivor docs before scoring.
   *
   * TIER 2 (stopword elision — document-shaped probes, where B_C over
   * a hundred common terms dwarfs any θ and tier 1 cannot engage):
   * score ONLY positive-idf postings. That sum IS the full BM25 score
   * — a zero-idf term contributes literally 0 — so the only docs the
   * classic plan additionally ranks are zero-SCORE docs reachable
   * through stopwords alone. If the k-th positive score θ₂ ≥ 1, those
   * can never reach the top-k, and the tier-2 top-k is the exact
   * answer; the pruned mass is precisely the stopword-class postings
   * (df ≳ n/3) that dominate Σ df on zipf corpora. A probe with NO
   * elidable terms (every term present with idf ≥ 1 — e.g. any
   * bigram-vocabulary workload) needs no θ₂ test at all: nothing was
   * elided, its tier-2 ranking is unconditionally exact. The θ₂
   * values are read off the final RANKED output (probes × k rows),
   * so tier 2 makes exactly ONE pass over the postings mass — the
   * same job shape as the classic plan, minus the elided postings.
   *
   * Probes failing both tests run the classic unpruned plan,
   * restricted to themselves. Exactness holds for any pivot/stat
   * looseness; only the pruning RATE varies. Each tier's per-probe
   * decision row is collected and re-literalized so its phase-1
   * aggregate is not re-evaluated as a subplan of every consumer.
   */
  private def maxScoreProbe(spark: SparkSession, dir: String,
                            segs: Seq[(String, Long, Long)],
                            n: Long, tt: Long, probeTerms: DataFrame,
                            k: Int, cfg: Config,
                            tombF: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.Row
    val vocab = probeTerms.select("tok").distinct()
    def tfUnion(bs: Seq[Int]): DataFrame = maskBySeq(
      segs.map(s => readTf(spark, segPath(dir, s._1))
          .filter(col("bkt").isin(bs: _*))
          .withColumn("seg_seq", lit(nameSeq(s._1))))
        .reduce(_.unionByName(_)),
      tombF)
    // the probed buckets: ≤ cfg.buckets rows of driver metadata — the
    // static partition filter pruning the (count-sized) df slices here
    // and bounding the per-class tf bucket lists below
    val bkts = probeTerms.select(bkt(col("tok"), cfg.buckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // probe-vocabulary per-term stats → idf_q and U(t). Tombstone-free:
    // fold the count-sized per-segment df slices. Masked: one
    // term-keyed aggregate over the masked tf slice — exact df over
    // corpus-minus-deleted (complete: every live doc holding a probed
    // term lives in that term's bucket partitions) plus bounds that
    // are tighter than the stored ones, both sound.
    val idfDist = (tombF match {
        case None => dfFold(
          segs.map(s => readDf(spark, segPath(dir, s._1))
              .filter(col("bkt").isin(bkts: _*)))
            .reduce(_.unionByName(_))
            .join(broadcast(vocab), "tok"))
        case Some(_) =>
          dfFromTf(tfUnion(bkts).join(broadcast(vocab), "tok"))
      })
      .withColumn("n", lit(n)).withColumn("tt", lit(tt))
      .withColumn("idf_q", expr(Terms.bm25IdfSql))
      .withColumn("ub", expr(
        "(idf_q * max_tf * 220000) div (1000*max_tf + 300 + " +
          "9*((100 * min_dl * n) div tt))"))
      .select("tok", "idf_q", "ub")
    def scoredOver(tf: DataFrame, pt: DataFrame,
                   stats: DataFrame): DataFrame =
      tf.join(broadcast(pt), "tok")
        .join(broadcast(stats.select("tok", "idf_q")), "tok")
        .withColumn("n", lit(n)).withColumn("tt", lit(tt))
        .withColumn("rel", expr(Terms.bm25RelSql))
        .withColumn("s", expr(Terms.bm25PartialSql))
    def topKof(scores: DataFrame, scoreCol: String): DataFrame =
      Skew.groupTopK(scores.select(col("probe_id"), col("doc_id"),
          col(scoreCol).as("score")),
        Seq("probe_id"), Seq(col("score").desc, col("doc_id").asc), k,
        rankCol = "rank")
        .withColumn("rank", col("rank").cast("long"))
        .select("probe_id", "rank", "doc_id", "score")
    def idFrame(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row(r.get(0))): _*),
        org.apache.spark.sql.types.StructType(
          Seq(org.apache.spark.sql.types.StructField("probe_id",
            probeTerms.schema("probe_id").dataType))))
    def restrict(rows: Seq[Row]): DataFrame =
      probeTerms.join(broadcast(idFrame(rows)), Seq("probe_id"),
        "left_semi")
    // distinct-term counts per probe — the tier-1 routing gate, from
    // the CACHED probe frame alone (no stats join, no postings scan)
    val ntRows = probeTerms.groupBy("probe_id")
      .agg(count(lit(1)).as("nt")).collect()
    if (ntRows.isEmpty) { // no probe produced any term: empty output
      lastMaxScoreDecision = (0L, 0L)
      return Terms.bm25ScoreRank(tfUnion(Seq.empty)
        .join(broadcast(probeTerms), "tok")
        .join(broadcast(idfDist.select("tok", "idf_q")), "tok")
        .withColumn("n", lit(n)).withColumn("tt", lit(tt)), k)
    }

    // classic unpruned plan restricted to `rows`, idf from `stats`
    // (lazy or local) — the shared per-probe fallback
    def classicFor(rows: Seq[Row], stats: DataFrame): DataFrame =
      Terms.bm25ScoreRank(tfUnion(bkts)
        .join(broadcast(restrict(rows)), "tok")
        .join(broadcast(stats.select("tok", "idf_q")), "tok")
        .withColumn("n", lit(n))
        .withColumn("tt", lit(tt)), k)
    val longRows = ntRows.filter(_.getLong(1) > MaxScoreT1MaxTerms)

    // ---- the SHARED elided-scoring tier (tier 2): ONE positive-idf
    // scoring pass over `buckets`, θ₂ read off the small RANKED output
    // (probes×k rows — no corpus-sized checkpoint, no double rank), a
    // θ₂ ≥ 1 test on each probe's k-th positive score, and the
    // nothing-elided exemption: a probe whose every term scored with
    // idf ≥ 1 has the classic candidate set already, so its ranking is
    // unconditionally exact even below θ₂. `nzeroFor` supplies those
    // elided-term counts and runs ONLY for θ₂-failing probes — the
    // common all-pass case costs no extra driver round. Returns
    // (emitted frame for passing probes, passing rows, rows needing
    // the classic fallback). Both the fast path and the stats path
    // call this; when the two copies were inlined they drifted (one
    // gained the exemption, the other lost it).
    def elidedTier2(probeRows: Seq[Row], probeFrame: DataFrame,
                    buckets: Seq[Int], stats: DataFrame,
                    nzeroFor: Seq[Row] => Map[Any, Long])
        : (Option[DataFrame], Seq[Row], Seq[Row]) = {
      val ranked = topKof(scoredOver(tfUnion(buckets), probeFrame, stats)
          .groupBy("probe_id", "doc_id").agg(sum("s").as("ps")), "ps")
        .localCheckpoint()
      val kth = ranked.filter(col("rank") === k)
        .select(col("probe_id"), col("score"))
        .collect()
        .map(r => r.get(0) -> r.getLong(1)).toMap
      val (pass0, fail0) = probeRows.partition(r =>
        kth.get(r.get(0)).exists(_ >= 1L))
      val (exempt, fail) =
        if (fail0.isEmpty) (fail0, fail0)
        else {
          val nz = nzeroFor(fail0)
          fail0.partition(r => nz.get(r.get(0)).contains(0L))
        }
      val ok = pass0 ++ exempt
      val out =
        if (ok.isEmpty) None
        else if (fail.isEmpty) Some(ranked)
        else Some(ranked.join(broadcast(idFrame(fail)),
          Seq("probe_id"), "left_anti"))
      (out, ok, fail)
    }

    // ---- FAST PATH whenever any document-shaped probe (> tier-1
    // term cap) is present: tier 2 over ALL probes in one
    // classic-shaped job (the idf frame joins in as a lazy broadcast
    // subquery). Short probes ride along: once the big scoring pass
    // runs anyway, the stats rounds tier 1 would need cost more
    // driver latency than its bound could save them. Job count == the
    // unpruned plan, minus the elided postings. On a θ₂ failure the
    // stats localize once — the nzero round and the classic fallback
    // share the collected relation, so with tombstones outstanding
    // the masked stats aggregate never re-executes.
    if (longRows.nonEmpty) {
      // localized (collected) stats, forced only on the failure path —
      // the nzero round and the classic fallback share the one
      // collect, so with tombstones outstanding the masked stats
      // aggregate never re-executes
      lazy val locStats = spark.createDataFrame(
        java.util.Arrays.asList(idfDist.collect(): _*), idfDist.schema)
      val (out, ok, fail) = elidedTier2(ntRows.toSeq, probeTerms, bkts,
        idfDist.filter(col("idf_q") >= 1),
        fail0 =>
          restrict(fail0)
            .join(broadcast(locStats), Seq("tok"), "left_outer")
            .groupBy("probe_id")
            .agg(count(when(coalesce(col("idf_q"), lit(0L)) < 1, 1))
              .as("nzero"))
            .collect()
            .map(r => r.get(0) -> r.getLong(1)).toMap)
      lastMaxScoreDecision = (ok.length.toLong, fail.length.toLong)
      val fbOut =
        if (fail.isEmpty) None else Some(classicFor(fail, locStats))
      return (out.toSeq ++ fbOut.toSeq).reduce(_.unionByName(_))
    }

    // ---- STATS PATH: every probe is search-query-shaped — collect
    // the per-term stats ONCE into a local relation (probe-vocab-sized
    // by the probe contract, like `bkts`) so the downstream consumers
    // (class stats, bucket lists, per-probe bounds, the fallback)
    // never re-run the df-slice scan (or, masked, the full postings
    // aggregate).
    val idfStats = spark.createDataFrame(
      java.util.Arrays.asList(idfDist.collect(): _*), idfDist.schema)
    val rStats = idfStats.filter(col("idf_q") >= MaxScorePivotIdf)
    val cStats = idfStats.filter(col("idf_q") < MaxScorePivotIdf)
    val posStats = idfStats.filter(col("idf_q") >= 1)
    // per-class bucket lists, one (local-relation) driver round
    val bktRows = idfStats
      .groupBy(bkt(col("tok"), cfg.buckets).as("b"))
      .agg(count(when(col("idf_q") >= MaxScorePivotIdf, 1)).as("ness"),
        count(when(col("idf_q") >= 1 &&
          col("idf_q") < MaxScorePivotIdf, 1)).as("ncomp"),
        count(when(col("idf_q") >= 1, 1)).as("npos"))
      .collect()
    val bktsR = bktRows.filter(_.getLong(1) > 0).map(_.getInt(0)).toSeq
    val bktsC1 = bktRows.filter(_.getLong(2) > 0).map(_.getInt(0)).toSeq
    val bktsPos = bktRows.filter(_.getLong(3) > 0).map(_.getInt(0)).toSeq
    // per-probe stat bounds — one probe-sized driver round decides the
    // tier WITHOUT running any postings job
    val perProbe = probeTerms
      .join(broadcast(idfStats), Seq("tok"), "left_outer")
      .groupBy("probe_id").agg(count(lit(1)).as("nt"),
        sum(when(col("idf_q") >= MaxScorePivotIdf, col("ub"))
          .otherwise(lit(0L))).as("br"),
        sum(when(col("idf_q") < MaxScorePivotIdf, coalesce(col("ub"),
          lit(0L))).otherwise(lit(0L))).as("bc"),
        count(when(coalesce(col("idf_q"), lit(0L)) < 1, 1)).as("nzero"))
    val ppRows = perProbe.collect()
    val (t1Rows, t2Init) = ppRows.partition(r =>
      r.getLong(2) > r.getLong(3))

    // ---- tier 1: classic max-score over the plausible probes
    var t1Out: Option[DataFrame] = None
    var t1Failed: Seq[Row] = Seq.empty
    var nOk1 = 0L
    if (t1Rows.nonEmpty) {
      val pt1 = restrict(t1Rows.toSeq)
      val p1 = scoredOver(tfUnion(bktsR), pt1, rStats)
        .groupBy("probe_id", "doc_id").agg(sum("s").as("p1"))
        .localCheckpoint(eager = false)
      val theta = Skew.groupTopK(
          p1.select(col("probe_id"), col("doc_id"), col("p1").as("score")),
          Seq("probe_id"), Seq(col("score").desc, col("doc_id").asc), k,
          rankCol = "rank")
        .filter(col("rank") === k)
        .select(col("probe_id"), col("score").as("theta"))
        .collect()
        .map(r => r.get(0) -> r.getLong(1)).toMap
      val (ok1, fail1) = t1Rows.partition(r =>
        theta.get(r.get(0)).exists(_ > r.getLong(3)))
      t1Failed = fail1.toSeq
      nOk1 = ok1.length.toLong
      if (ok1.nonEmpty) {
        val okLocal = spark.createDataFrame(
          java.util.Arrays.asList(ok1.map(r =>
            Row(r.get(0), theta(r.get(0)), r.getLong(3))): _*),
          org.apache.spark.sql.types.StructType(Seq(
            perProbe.schema.fields.head,
            org.apache.spark.sql.types.StructField("theta",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("bc",
              org.apache.spark.sql.types.LongType))))
        val surv = p1.join(broadcast(okLocal), "probe_id")
          .filter(col("p1") + col("bc") >= col("theta"))
          .select("probe_id", "doc_id", "p1")
        val c1 = cStats.filter(col("idf_q") >= 1)
        val sc =
          if (bktsC1.isEmpty) None
          else Some(scoredOver(
              tfUnion(bktsC1)
                .join(broadcast(surv.select("doc_id").distinct()),
                  Seq("doc_id"), "left_semi"), probeTerms, c1)
            .join(broadcast(surv.select("probe_id", "doc_id")),
              Seq("probe_id", "doc_id"), "left_semi")
            .groupBy("probe_id", "doc_id").agg(sum("s").as("p2")))
        val full = sc.fold(surv.withColumn("score", col("p1")))(s2 =>
          surv.join(s2, Seq("probe_id", "doc_id"), "left_outer")
            .withColumn("score", col("p1") + coalesce(col("p2"), lit(0L))))
        t1Out = Some(topKof(full, "score"))
      }
    }

    // ---- tier 2: stopword-elided full scoring for the rest — the
    // shared tier with the elided-term counts already on the perProbe
    // rows (column `nzero`), so the exemption costs nothing here
    val t2Rows = t2Init.toSeq ++ t1Failed
    var t2Out: Option[DataFrame] = None
    var nOk2 = 0L
    var t2Failed: Seq[Row] = Seq.empty
    if (t2Rows.nonEmpty) {
      val nz = t2Rows.map(r => r.get(0) -> r.getLong(4)).toMap
      val (out, ok2, fail2) =
        elidedTier2(t2Rows, restrict(t2Rows), bktsPos, posStats, _ => nz)
      t2Out = out
      nOk2 = ok2.length.toLong
      t2Failed = fail2
    }

    lastMaxScoreDecision = (nOk1 + nOk2, t2Failed.length.toLong)
    // ---- classic plan for probes neither tier could prune
    val fbOut =
      if (t2Failed.isEmpty) None
      else Some(classicFor(t2Failed, idfStats))
    (t1Out.toSeq ++ t2Out.toSeq ++ fbOut.toSeq)
      .reduce(_.unionByName(_))
  }

  // ------------------------------------------------------------------
  // Probe snapshots: versions up to SnapshotMaxTokens, probed by batches
  // up to SnapshotMaxWalk, are scored in the driver from cached
  // per-segment tf rows (SegmentCache).
  // ------------------------------------------------------------------

  /** Largest version, by Σ manifest nTokens (a bound on its posting
    * rows), that [[topKAt]] scores from driver-side segment snapshots.
    * Measured with graft.ProbeSnapshotBound (sf0.1 documents × 7,
    * 1.86–1.89M tokens, 4 cores): the snapshots retained 19 MB of heap
    * for unigram terms and 42 MB for bigram terms, and took 1.3 s and
    * 2.1 s to load; 42 MB is a third of [[SegmentCache]]'s byte bound. */
  private val SnapshotMaxTokens = 1L << 21

  /** Most posting rows a batch may walk ([[LocalProbe.walk]]) and
    * still be scored in the driver; larger batches run the scan. On the
    * index above the driver beat the scan on every batch measured, up
    * to 27.5M walked bigram postings (6.4 s against 18.8 s) and 163M
    * unigram ones (9.0 s against 69.7 s); the bound sits just above the
    * largest bigram walk measured, the slower shape per posting. */
  private val SnapshotMaxWalk = 1L << 25

  /** One segment's tf rows of one term, as parallel arrays. */
  private final class Postings(val docId: Array[Long], val tf: Array[Long],
                               val dl: Array[Long])

  private final class PostingsBuilder {
    val docId, tf, dl = Array.newBuilder[Long]
    def add(d: Long, t: Long, l: Long): Unit = { docId += d; tf += t; dl += l }
    def result(): Postings =
      new Postings(docId.result(), tf.result(), dl.result())
  }

  /** One segment's tf rows by term, loaded once per segment in one
    * schema-pinned driver read. None when a row has a null doc id, tf
    * or dl: only the scan path gives those Spark's null semantics. */
  private def tfSnapshot(spark: SparkSession, dir: String,
                         seg: String): Option[Map[String, Postings]] = {
    val key = SegmentCache.keyOf(fs(spark, dir), s"${segPath(dir, seg)}/tf")
    SegmentCache.getOrLoad(key) {
      val byTok = scala.collection.mutable.HashMap
        .empty[String, PostingsBuilder]
      var nulls = false
      SegmentCache.foreachRow(spark, key,
          Seq("tok", "doc_id", "tf", "dl").map(tfSchema(_))) { r =>
        if (r(1) == null || r(2) == null || r(3) == null) nulls = true
        // a null term joins no probe term
        else if (r(0) != null)
          byTok.getOrElseUpdate(r(0).asInstanceOf[String],
            new PostingsBuilder).add(r(1).asInstanceOf[Long],
            r(2).asInstanceOf[Long], r(3).asInstanceOf[Long])
      }
      if (nulls) (None, 0L)
      else {
        val m = byTok.iterator.map { case (t, b) => t -> b.result() }.toMap
        (Some(m), m.iterator.map { case (t, p) =>
          120L + 2L * t.length + 24L * p.docId.length }.sum)
      }
    }
  }

  /** One tombstone dataset as doc id → the sequence it masks below
    * (`d`: its name's; `c`: the stored max per id). */
  private def tombSnapshot(spark: SparkSession, dir: String,
                           name: String): Map[Long, Int] = {
    val key = SegmentCache.keyOf(fs(spark, dir), tombPath(dir, name))
    SegmentCache.getOrLoad(key) {
      val coalesced = name.startsWith("c")
      val m = scala.collection.mutable.LongMap.empty[Int]
      SegmentCache.foreachRow(spark, key,
          StructField("doc_id", LongType) +:
            (if (coalesced) Seq(StructField("seq", IntegerType)) else Nil)) {
        r =>
          if (r.forall(_ != null)) {
            val d = r(0).asInstanceOf[Long]
            val q = if (coalesced) r(1).asInstanceOf[Long].toInt
              else nameSeq(name)
            m(d) = math.max(q, m.getOrElse(d, q))
          }
      }
      (m.toMap, 64L + 64L * m.size)
    }
  }

  /** A pinned version's segment snapshots with one collected probe
    * batch. Prices the batch as [[estimateProbeCostScan]] does and
    * scores it as the classic (unpruned) plan does — every doc holding
    * a probe term, ranked by (score desc, doc_id asc) — in exact Long
    * arithmetic ([[Terms.bm25Idf]], [[Terms.bm25Partial]]). The
    * max-score plan returns the classic plan's answer, so its tiers
    * are not needed here. */
  private[graft] final class LocalProbe private[TermIndex] (
      probeField: StructField, probes: Seq[(Any, Seq[String])],
      n: Long, tt: Long, segs: Seq[(Int, Map[String, Postings])],
      masks: Map[Long, Int]) {

    private val vocab: Seq[String] = probes.flatMap(_._2).distinct

    private def byProbe: Seq[(Any, Seq[Seq[String]])] =
      probes.groupBy(p => Option(p._1)).toSeq
        .map { case (pid, ps) => (pid.orNull, ps.map(_._2)) }

    /** Stored df of each probe term: every posting row, masked or not
      * — what the df tables hold. */
    private lazy val storedDf: Map[String, Long] = vocab.map { t =>
      t -> segs.map(_._2.get(t).fold(0L)(_.docId.length.toLong)).sum
    }.toMap

    /** The probe-cost gate's price: stored df against the masked n. */
    lazy val cost: ProbeCost =
      if (vocab.isEmpty) ProbeCost(0L, 0L, 0L, n)
      else {
        val priced = storedDf.filter { case (_, df) =>
          df > 0 && Terms.bm25Idf(n, df) >= 1 }
        val ws = byProbe.map { case (_, rows) =>
          rows.iterator.flatten.map(priced.getOrElse(_, 0L))
            .foldLeft(0L)(java.lang.Math.addExact)
        }
        ProbeCost(ws.foldLeft(0L)(java.lang.Math.addExact),
          (0L +: ws).max, byProbe.length.toLong, n)
      }

    /** Posting rows [[topK]] walks, one thread: Σ over probe rows of
      * the stored df of each of their terms, zero-idf terms included
      * (the scan elides those; this path does not). */
    lazy val walk: Long = probes.iterator.flatMap(_._2).map(storedDf)
      .foldLeft(0L)(java.lang.Math.addExact)

    /** Live postings of each probe term: the rows that no tombstone
      * with a strictly greater sequence masks. */
    private lazy val live: Map[String, Postings] =
      vocab.flatMap { t =>
        val b = new PostingsBuilder
        for ((seq, byTok) <- segs; p <- byTok.get(t); i <- p.docId.indices)
          if (masks.get(p.docId(i)).forall(_ <= seq))
            b.add(p.docId(i), p.tf(i), p.dl(i))
        val ps = b.result()
        if (ps.docId.isEmpty) None else Some(t -> ps)
      }.toMap

    /** (probe_id, rank, doc_id, score) rows, rank 1..k per probe. */
    def topK(k: Int): Seq[org.apache.spark.sql.Row] = {
      val idf = live.map { case (t, ps) => t -> Terms.bm25Idf(n, ps.docId.length) }
      byProbe.flatMap { case (pid, rows) =>
        val score = scala.collection.mutable.LongMap.empty[Long]
        for (toks <- rows; t <- toks; i <- idf.get(t)) {
          val ps = live(t)
          var j = 0
          while (j < ps.docId.length) {
            val d = ps.docId(j)
            score(d) = java.lang.Math.addExact(score.getOrElse(d, 0L),
              Terms.bm25Partial(i, ps.tf(j), ps.dl(j), n, tt))
            j += 1
          }
        }
        score.toSeq
          .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
          .take(k).zipWithIndex.map { case ((d, sc), r) =>
            org.apache.spark.sql.Row(pid, r + 1L, d, sc)
          }
      }
    }

    /** [[topK]]'s schema, the scan path's. */
    val schema: StructType = StructType(Seq(probeField.copy(name = "probe_id"),
      StructField("rank", LongType, nullable = false),
      StructField("doc_id", LongType), StructField("score", LongType)))

    def topKFrame(spark: SparkSession, k: Int): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(topK(k): _*), schema)
  }

  /** The snapshot of `version` with `probes` collected, or None when
    * [[topKAt]] must scan instead: the manifest holds more than
    * [[SnapshotMaxTokens]] tokens, the probe id is not an integral or
    * string column (whose grouping the driver reproduces exactly), a
    * segment has null tf fields, or the batch walks more than
    * `maxWalk` postings. The caller checks the version is live. */
  private[graft] def localProbe(spark: SparkSession, dir: String,
                                version: Int, probes: DataFrame,
                                id: String, text: String, cfg: Config,
                                terms: Column => Column,
                                maxWalk: Long = SnapshotMaxWalk)
      : Option[LocalProbe] = {
    requireTerms(spark, dir, cfg)
    val segs = readManifest(spark, dir, version)
    val probeField = probes.schema(id)
    val idOk = probeField.dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }
    if (!idOk || segs.map(_._3).sum > SnapshotMaxTokens) return None
    val tfs = segs.map(s => tfSnapshot(spark, dir, s._1))
    if (tfs.exists(_.isEmpty)) return None
    val (masked, tombs) = readTombstones(spark, dir, version)
    val masks = SegmentCache.maxMerge(tombs.map(tombSnapshot(spark, dir, _)))
    val batch = probes.select(col(id), array_distinct(terms(col(text))))
      .collect().toSeq
      .map(r => (r.get(0),
        if (r.isNullAt(1)) Seq.empty[String] else r.getSeq[String](1)))
    Some(new LocalProbe(probeField, batch,
      segs.map(_._2).sum - masked._1, segs.map(_._3).sum - masked._2,
      segs.map(s => nameSeq(s._1)).zip(tfs.flatten), masks))
      .filter(_.walk <= maxWalk)
  }

  /** Drop versions older than the last `retainLast` and any segment
    * directory no retained manifest references (stranded by a torn
    * append/compaction or superseded by compaction). */
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
        if (!referenced.contains(name) && num <= latest) {
          f.delete(st.getPath, true)
          SegmentCache.dropUnder(f, st.getPath)
        }
      }
    // tombstone datasets: reap what no retained manifest references
    // (compactions retire them; crashed deletes strand orphans) —
    // never the in-flight d(latest+1)
    val refTombs = liveVersions
      .flatMap(readTombstones(spark, dir, _)._2).toSet
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
