package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Keyed copy-on-write bucketed table — the DOWNSTREAM half of the CDC
 * story. The four index families ([[DigestIndex]], [[MinhashIndex]],
 * [[IvfIndex]], [[TermIndex]]) absorb change batches in O(batch);
 * MergeTable lets everything downstream of them do the same: a keyed
 * parquet table whose upsert/delete refresh rewrites ONLY the hash
 * buckets containing touched keys, never the corpus. It is the keyed
 * state store under [[Ivm]]'s incrementally-maintained aggregates and
 * the "maintained mirror" a training pipeline keeps of its deduped
 * corpus. (Reference analogue: the answer-what-you-can discipline of
 * /root/reference/cache.go:51-66, lifted from per-shard caches to a
 * keyed table; the reference itself has no mutable-table surface at
 * all — bigslice pipelines re-read whole inputs per run.)
 *
 * Layout (`dir/` on any Hadoop FS; [[VersionedLayout]] conventions —
 * immutable data, monotonic version pointers, generation-fenced writer
 * claims):
 * {{{
 *   latest/, FORMAT, claims/  monotonic version pointer files + layout
 *                             rev + writer mutual exclusion
 *   SCHEMA, META              row schema (StructType json) + key spec
 *   state/p00003/__bucket=N/  bucket N's COMPLETE row set, as rewritten
 *                             at version 3 (one parquet dir per bucket;
 *                             fenced writers suffix the p-dir: p00003x1)
 *   v00003/buckets.txt        "bucket,relpath,rows" — each live bucket's
 *                             current path; untouched buckets keep the
 *                             pointer of the version that last wrote them
 * }}}
 *
 * Why copy-on-write buckets and not an LSM like the index families: the
 * indexes are probed by CONTENT (digest/band/list/term — each probe
 * prunes to candidate partitions), so they tolerate multi-segment reads
 * and amortize rewrites into tiered folds. A maintained table is read
 * WHOLE by downstream jobs; read amplification hurts every consumer on
 * every run, while the write cost of a merge is one bucket rewrite per
 * touched bucket — bounded by min(touched keys, nBuckets) bucket-sized
 * jobs, independent of table size. `nBuckets` is the knob: at 100 TB
 * with nBuckets = 100k a bucket is ~1 GB, so a 1M-row refresh rewrites
 * ≤ 100k × 1 GB in the worst case but in practice (keys clustered by
 * hash = uniformly) min(1M, 100k) buckets — and a SMALL refresh (the
 * steady state) rewrites only the handful of buckets its keys hash to.
 * A too-small nBuckets degrades merge cost toward a full rewrite; a
 * too-large one degrades read listing. Both ends are visible in
 * [[stats]].
 *
 * SCATTER BATCHES — the merge-on-read delta overlay (round 13): a
 * batch whose keys are UNIFORMLY spread (every k-th key of the whole
 * table — the documented copy-on-write worst case) touches
 * ~min(batch, nBuckets) buckets, making the COW rewrite a near-full
 * table rewrite PER COMMIT. [[merge]] therefore picks a commit mode
 * from the manifest's own bucket row counts (no data read):
 *
 *   - COW (the clustered steady state): touched-bucket rewrite, as
 *     before. Chosen whenever the touched mass is a small fraction of
 *     the table.
 *   - DELTA (scatter batches): the batch is committed AS-IS as one
 *     batch-sized overlay dataset (`state/dNNNNN/` — upsert rows +
 *     delete keys under an `__op` column) listed in the manifest in
 *     commit order; NO bucket is rewritten. Reads reconcile: the
 *     per-key winner across overlay datasets (max commit seq) replaces
 *     the base row unless the row's bucket was rewritten at a later
 *     seq (each bucket entry's path carries the seq that wrote it, so
 *     masking is a broadcast nBuckets-sized seq map + a batch-sized
 *     anti-join — the DigestIndex tombstone-overlay machinery applied
 *     to a keyed table). Write cost O(batch) for ANY key distribution.
 *   - FOLD (budget breach): when outstanding overlay rows + batch
 *     would exceed the byte-budget analog `deltaBudgetRows`
 *     (max(minRows, tableRows/8) capped at maxRows — the broadcast-
 *     safety bound for the read-side key mask), the commit folds the
 *     whole overlay AND the batch into their buckets in ONE version —
 *     so overlay depth is bounded, a scatter stream's bucket rewrites
 *     amortize to O(batch · tableRows/budget) per commit, and the
 *     quiet-batch / one-version-per-merge contract the streaming
 *     wrappers pair against is never violated (no hidden extra
 *     commits).
 *
 * Spark-conf knobs (all optional): `graft.mergetable.scatterFraction`
 * (default 0.25 — DELTA when touched mass exceeds this fraction of the
 * table and the batch is at least 2× smaller than the touched mass),
 * `graft.mergetable.delta.minRows` (65536), `.maxRows` (4194304),
 * `.tableFraction` (0.125).
 *
 * THE READ HALF OF THE SCATTER STORY (round 14): bucket files are
 * KEY-SORTED at write, and reads that don't need whole buckets push
 * the batch's first-key-column candidates into the scan as an `In`
 * filter ([[pruneVals]]) — parquet row-group min/max stats then skip
 * everything outside the candidates, so a scattered refresh reads
 * ~candidate-sized bytes instead of ~the whole table (at 100 TB /
 * 100k buckets the whole-touched-bucket read was a full-state scan on
 * the steady-state path). Engaged (a) by the refresh staging paths
 * exactly when the commit will bypass the COW rewrite
 * ([[commitBypassesCow]] — a COW commit reuses the staged whole-bucket
 * read instead, which is cheaper than reading twice), and (b) by
 * [[readForKeysAt]] when the touched mass exceeds
 * `graft.mergetable.keyPrune.minRows` (1M — below it the extra
 * candidate-collect job costs more than the scan it saves). Knobs:
 * `graft.mergetable.keyPrune.maxValues` (512 — must stay ≤ the
 * session's `spark.sql.parquet.pushdown.inFilterThreshold`, above it
 * the read falls back to whole buckets; both stay at 512 because
 * Spark pushes the In as a BINARY OR-CHAIN of equals whose parquet
 * predicate evaluation recurses per node — ~4096-deep chains overflow
 * a default 1 MB thread stack), `.minRows` (1000000).
 * Correctness never depends on the pushdown: the pruned frame is
 * exactly the unpruned frame filtered by key, and every consumer
 * masks exactly on top.
 *
 * Merge plan shape (what makes it 100 TB-safe): touched-bucket ids are
 * computed FROM THE BATCH (batch-sized agg, collect bounded by
 * nBuckets); old rows are read from touched bucket dirs only; the
 * touched-key mask is a BROADCAST anti-join (batch-sized build side);
 * the rewrite shuffles only touched-bucket mass, partitioned by bucket
 * so each bucket lands as one contiguous file set. No corpus scan, no
 * corpus shuffle, no driver materialization of data rows. Overlay
 * reconciliation adds one overlay-sized (≤ budget) window shuffle and
 * two broadcast joins to reads, and nothing when the overlay is empty
 * (the plan is byte-identical to the overlay-free layout).
 */
object MergeTable {

  private val FormatVersion = 1

  /** Key spec persisted in META. `keyCols` identify a row (merge
    * replaces by them); `bucketCols` route rows to buckets and MUST be
    * a prefix-subset of `keyCols` (all versions of a key stay in one
    * bucket; [[Ivm]] buckets its z-set by group so a group's whole
    * state is co-located). Key columns must be non-null (asserted per
    * merge — null keys cannot be matched by the equi-join mask). */
  final case class Meta(keyCols: Seq[String], bucketCols: Seq[String],
                        nBuckets: Int, schema: StructType) {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    require(bucketCols.nonEmpty && bucketCols.forall(keyCols.contains),
      s"bucketCols ${bucketCols.mkString(",")} must be a subset of " +
        s"keyCols ${keyCols.mkString(",")}")
    require(keyCols.forall(schema.fieldNames.contains),
      s"keyCols ${keyCols.mkString(",")} must exist in the schema")
  }

  import VersionedLayout.{atomicWrite, fs, readSmall, versionDir, withClaim}

  def exists(spark: SparkSession, dir: String): Boolean =
    VersionedLayout.exists(spark, dir)

  def latestVersion(spark: SparkSession, dir: String): Int =
    VersionedLayout.latestVersion(spark, dir, FormatVersion, "MergeTable")

  private def statePath(dir: String, rel: String): String =
    s"${dir.stripSuffix("/")}/state/$rel"

  private def writeMeta(spark: SparkSession, dir: String, m: Meta): Unit = {
    val f = fs(spark, dir)
    atomicWrite(f, new Path(dir, "SCHEMA"), m.schema.json)
    atomicWrite(f, new Path(dir, "META"),
      s"nBuckets\t${m.nBuckets}\nkeyCols\t${m.keyCols.mkString("\u0001")}\n" +
        s"bucketCols\t${m.bucketCols.mkString("\u0001")}")
  }

  def readMeta(spark: SparkSession, dir: String): Meta = {
    val f = fs(spark, dir)
    val schema = DataType.fromJson(readSmall(f, new Path(dir, "SCHEMA")))
      .asInstanceOf[StructType]
    val kv = readSmall(f, new Path(dir, "META")).split("\n")
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
    Meta(kv("keyCols").split("\u0001").toSeq,
      kv("bucketCols").split("\u0001").toSeq, kv("nBuckets").toInt, schema)
  }

  /** Bucket routing: hash of the bucket columns mod nBuckets —
    * deterministic, stable across versions (a table's nBuckets is
    * fixed at create; rescaling is a rebuild). */
  private def bucketExpr(m: Meta) =
    pmod(xxhash64(m.bucketCols.map(col): _*), lit(m.nBuckets.toLong))
      .cast("int")

  /** Overlay dataset entry: (relpath, upsertRows, deleteRows), listed
    * in commit order (the rel's seq — [[relSeq]] — IS the order). */
  private[graft] type DeltaEntry = (String, Long, Long)

  /** Commit seq encoded in a state relpath: p00007/… and d00007 (and
    * their fence-suffixed forms p00007x1/…) → 7. */
  private def relSeq(rel: String): Int =
    rel.drop(1).takeWhile(_.isDigit).toInt

  private def writeManifest(spark: SparkSession, dir: String, v: Int,
                            buckets: Seq[(Int, String, Long)],
                            deltas: Seq[DeltaEntry]): Unit = {
    // rows == 0 bucket entries are "emptied at seq" markers — needed
    // only so overlay rows older than the emptying rewrite stay masked;
    // with no overlay left they are pure noise and are pruned here
    val bs = if (deltas.isEmpty) buckets.filter(_._3 > 0) else buckets
    // rename-based fenced commit: content lands in a claimant-private
    // temp, lease re-verified AFTER the write, one rename publishes at
    // this generation's name — a loser paused mid-write across a steal
    // aborts untouched
    VersionedLayout.fencedWrite(spark, dir, v, "MergeTable",
      new Path(versionDir(dir, v), "buckets.txt"),
      (bs.sortBy(_._1).map { case (b, rel, n) => s"$b,$rel,$n" } ++
        deltas.map { case (rel, u, d) => s"D,$rel,$u,$d" }).mkString("\n"))
  }

  /** Live bucket entries of a version (rows == 0 entries are
    * emptied-at-seq markers carrying no data). */
  private[graft] def readManifest(spark: SparkSession, dir: String,
                                  v: Int): Seq[(Int, String, Long)] =
    readManifestFull(spark, dir, v)._1

  /** Outstanding overlay datasets of a version, oldest first. */
  private[graft] def readDeltas(spark: SparkSession, dir: String,
                                v: Int): Seq[DeltaEntry] =
    readManifestFull(spark, dir, v)._2

  private[graft] def readManifestFull(spark: SparkSession, dir: String,
      v: Int): (Seq[(Int, String, Long)], Seq[DeltaEntry]) = {
    val s = VersionedLayout.fencedRead(fs(spark, dir),
      new Path(versionDir(dir, v), "buckets.txt"))
    if (s.isEmpty) (Seq.empty, Seq.empty)
    else {
      val lines = s.split("\n").toSeq
      val (d, b) = lines.partition(_.startsWith("D,"))
      (b.map { l =>
        val Array(bk, rel, n) = l.split(","); (bk.toInt, rel, n.toLong)
      },
        d.map { l =>
          val Array(_, rel, u, dl) = l.split(","); (rel, u.toLong, dl.toLong)
        })
    }
  }

  private def requireLiveVersion(spark: SparkSession, dir: String,
                                 version: Int): Unit = {
    val latest = latestVersion(spark, dir)
    require(version >= 1 && version <= latest,
      s"version $version of $dir does not exist (latest: $latest)")
    require(fs(spark, dir).exists(new Path(versionDir(dir, version))),
      s"version $version of $dir was garbage-collected — pinned reads " +
        "need retainVersions to cover it")
  }

  /** Commit an empty v1 with the key spec and row schema pinned. */
  def create(spark: SparkSession, dir: String, schema: StructType,
             keyCols: Seq[String], bucketCols: Seq[String],
             nBuckets: Int): Int = {
    val m = Meta(keyCols, bucketCols, nBuckets, schema)
    withClaim(spark, dir, 1, FormatVersion, "MergeTable") {
      writeMeta(spark, dir, m)
      writeManifest(spark, dir, 1, Seq.empty, Seq.empty)
    }
    1
  }

  /** Create + load an initial row set in one version ([[merge]] with
    * no deletes against the empty table). */
  def build(spark: SparkSession, dir: String, rows: DataFrame,
            keyCols: Seq[String], bucketCols: Seq[String],
            nBuckets: Int): Int = {
    create(spark, dir, rows.schema, keyCols, bucketCols, nBuckets)
    merge(spark, dir, rows, rows.select(keyCols.map(col): _*).limit(0))
  }

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Broadcast semi/anti join of `left` against a batch-sized key
    * frame, NULL-SAFE on every key column: the IVM z-sets key by
    * (group, value) tuples where a SQL NULL value is a legal key — a
    * plain equi-join would silently never match those keys (the
    * pre-r13 fold avoided joins entirely via groupBy, which treats
    * nulls as equal; every key mask on this layout must too). */
  private[graft] def keyJoin(left: DataFrame, keys: DataFrame,
                             cols: Seq[String],
                             joinType: String): DataFrame = {
    val r = keys.select(cols.map(c => col(c).as(s"__k_$c")): _*)
    left.join(broadcast(r),
      cols.map(c => left(c) <=> col(s"__k_$c")).reduce(_ && _), joinType)
  }

  /** The overlay dataset schema: row schema + `__op` ('u' upsert with a
    * full row, 'd' delete carrying only the key columns). */
  private def deltaSchema(m: Meta): StructType =
    StructType(m.schema.fields :+
      StructField("__op", org.apache.spark.sql.types.StringType))

  /** All rows of the outstanding overlay datasets with their commit
    * seq (`__dseq`) attached — batch-sized × overlay depth, bounded by
    * the delta budget. */
  private def deltaRows(spark: SparkSession, dir: String, m: Meta,
                        deltas: Seq[DeltaEntry]): DataFrame =
    deltas.map { case (rel, _, _) =>
      spark.read.schema(deltaSchema(m)).parquet(statePath(dir, rel))
        .withColumn("__dseq", lit(relSeq(rel)))
    }.reduce(_.unionByName(_))

  /**
   * Effective rows of (a subset of) a version's buckets: base bucket
   * data reconciled with the outstanding overlay. Per key, the
   * highest-seq overlay row wins UNLESS the key's bucket was rewritten
   * at a later seq (the rewrite already folded it in — bucket paths
   * carry their write seq). With an empty overlay this is exactly the
   * bucket-union plan of the overlay-free layout. All driver-side
   * inputs are manifest metadata (≤ nBuckets entries); the overlay
   * winner shuffle is overlay-sized and the key mask is a broadcast.
   *
   * `prune`: candidate first-key-column values pushed into the base
   * scan (`isin` → parquet row-group stats pruning — bucket files are
   * key-sorted at write). The result is the unpruned result filtered
   * to rows whose first key column is among the values: the filter is
   * a function of the key, so it commutes with the per-key
   * reconciliation (both base and overlay are filtered identically).
   */
  private def reconcile(spark: SparkSession, dir: String, m: Meta,
                        buckets: Seq[(Int, String, Long)],
                        deltas: Seq[DeltaEntry],
                        restrict: Option[Set[Int]],
                        prune: Option[Seq[Any]] = None): DataFrame = {
    val bks = restrict match {
      case Some(t) => buckets.filter(e => t(e._1))
      case None    => buckets
    }
    val paths = bks.filter(_._3 > 0).map(e => statePath(dir, e._2))
    // the values were collected from this very column, so their boxed
    // types match the column type exactly — no cast, which would wrap
    // the COLUMN side and defeat parquet pushdown
    def pruneF(df: DataFrame): DataFrame = prune match {
      case Some(vs) => df.filter(col(m.keyCols.head).isin(vs: _*))
      case None     => df
    }
    if (prune.isDefined) keyPrunedReads.incrementAndGet()
    val base =
      if (paths.isEmpty) emptyOf(spark, m.schema)
      else pruneF(spark.read.schema(m.schema).parquet(paths: _*))
    if (deltas.isEmpty) return base
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val withBkt = pruneF(deltaRows(spark, dir, m, deltas))
      .withColumn("__bkt", bucketExpr(m))
    val scoped = restrict match {
      case Some(t) =>
        withBkt.join(broadcast(t.toSeq.toDF("__bkt")), Seq("__bkt"),
          "left_semi")
      case None => withBkt
    }
    val w = Window.partitionBy(m.keyCols.map(col): _*)
      .orderBy(col("__dseq").desc)
    val winners = scoped
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    // bucket → seq-of-last-rewrite (markers included): overlay rows at
    // or before that seq are already folded into the bucket's data
    val bseq = bks.map(e => (e._1, relSeq(e._2))).toDF("__bkt", "__bseq")
    val winnersEff = winners
      .join(broadcast(bseq), Seq("__bkt"), "left")
      .filter(col("__dseq") > coalesce(col("__bseq"), lit(0)))
    val mask = winnersEff.select(m.keyCols.map(col): _*)
    keyJoin(base, mask, m.keyCols, "left_anti")
      .unionByName(winnersEff.filter(col("__op") === "u")
        .select(m.schema.fieldNames.toSeq.map(col): _*))
  }

  /** Full table at a pinned version: the union of every live bucket's
    * parquet dir, reconciled with the overlay (free when the overlay
    * is empty — each bucket then has exactly ONE current path). */
  def readAt(spark: SparkSession, dir: String, version: Int): DataFrame = {
    requireLiveVersion(spark, dir, version)
    val m = readMeta(spark, dir)
    val (buckets, deltas) = readManifestFull(spark, dir, version)
    reconcile(spark, dir, m, buckets, deltas, None)
  }

  def read(spark: SparkSession, dir: String): DataFrame =
    readAt(spark, dir, latestVersion(spark, dir))

  /** Per-bucket key counts of a batch frame (ONE batch-sized job):
    * the touched set AND the batch size in one collect — shared by the
    * read and commit halves of a fold so each refresh pays the collect
    * once. */
  private[graft] def bucketStats(spark: SparkSession, dir: String,
                                 keys: DataFrame): Map[Int, Long] = {
    val m = readMeta(spark, dir)
    keys.select(bucketExpr(m).as("__bucket"))
      .groupBy("__bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** ONE batch-sized job serving THREE driver-side needs of an [[Ivm]]
    * refresh that were three separate jobs (each pays the per-job
    * scheduler floor that dominates small-batch refresh latency):
    * per-bucket key counts of the delta (this table's touched set +
    * commit-mode input), per-bucket DISTINCT-`groupCols`-tuple counts
    * (the companion VIEW table's touch stats — valid because the view
    * is bucketed by the same group columns modulo the same nBuckets;
    * [[Ivm.create]] guarantees that, and the caller re-checks the
    * metas), and the count of delta rows carrying NULL group columns
    * (the up-front rejection — one more count job otherwise).
    * Returns (perBucketRows, perBucketDistinctGroups, nullGroupRows). */
  private[graft] def bucketStatsFused(spark: SparkSession, dir: String,
                                      keys: DataFrame,
                                      groupCols: Seq[String])
      : (Map[Int, Long], Map[Int, Long], Long) = {
    val m = readMeta(spark, dir)
    val rows = keys.select(bucketExpr(m).as("__bucket"),
        struct(groupCols.map(col): _*).as("__g"),
        groupCols.map(col(_).isNull).reduce(_ || _)
          .cast("long").as("__ng"))
      .groupBy("__bucket")
      .agg(count(lit(1)).as("__n"), count_distinct(col("__g")).as("__gn"),
        sum(col("__ng")).as("__ngn"))
      .collect()
    (rows.map(r => r.getInt(0) -> r.getLong(1)).toMap,
      rows.map(r => r.getInt(0) -> r.getLong(2)).toMap,
      rows.map(_.getLong(3)).sum)
  }

  /** Reconciled rows of exactly the `touched` buckets at a pinned
    * version — the collect-free half of [[readForKeysAt]] for callers
    * that already hold [[bucketStats]]. `prune`: optional candidate
    * first-key-column values ([[pruneVals]]) — the returned frame is
    * then restricted to rows whose first key column is among them (a
    * SUPERSET of any exact key/prefix set sharing those values;
    * callers apply their exact mask on top, as they already do). */
  private[graft] def readBucketsAt(spark: SparkSession, dir: String,
                                   version: Int, touched: Set[Int],
                                   prune: Option[Seq[Any]] = None)
      : DataFrame = {
    requireLiveVersion(spark, dir, version)
    val m = readMeta(spark, dir)
    val (buckets, deltas) = readManifestFull(spark, dir, version)
    reconcile(spark, dir, m, buckets, deltas, Some(touched), prune)
  }

  /** Candidate first-key-column values of `keys` for scan pushdown —
    * ONE batch-sized job, bounded by `graft.mergetable.keyPrune.
    * maxValues` (which must stay ≤ the session's parquet
    * `pushdown.inFilterThreshold` for the or'd-equals row-group-stats
    * form to be pushed). None (→ whole-bucket read) when the frame
    * does not carry the column, the distinct count exceeds the cap, or
    * a value is null (isin never matches null — pruning on it would
    * DROP legal rows). */
  private[graft] def pruneVals(spark: SparkSession, m: Meta,
                               keys: DataFrame): Option[Seq[Any]] = {
    val k1 = m.keyCols.head
    if (!keys.columns.contains(k1)) return None
    val cap = confL(spark, "graft.mergetable.keyPrune.maxValues", 512L).toInt
    val vs = keys.select(col(k1)).distinct().limit(cap + 1).collect()
      .map(_.get(0)).toSeq
    if (vs.isEmpty || vs.length > cap || vs.exists(_ == null)) None
    else Some(vs)
  }

  /** Rows of exactly the buckets that `keys` (any frame carrying the
    * bucket columns) hash to, at a pinned version — the touched-bucket
    * read every incremental consumer starts from. Returns the rows and
    * the touched bucket ids. The bucket-id collect is bounded by
    * nBuckets (driver metadata, same class as the index families'
    * manifest reads).
    *
    * When the touched-bucket MASS (manifest metadata) is at least
    * `graft.mergetable.keyPrune.minRows`, the read additionally pushes
    * the keys' first-key-column candidates into the scan
    * ([[pruneVals]] — one extra small job) so a scattered key set
    * reads ~candidate-sized bytes instead of every touched bucket
    * whole; the exact per-key semantics are unchanged (the pruned
    * rows' keys are a superset of the requested keys' first columns,
    * and this method's contract was always bucket-granular-or-wider —
    * every caller masks exactly on top). */
  def readForKeysAt(spark: SparkSession, dir: String, version: Int,
                    keys: DataFrame): (DataFrame, Set[Int]) = {
    val m = readMeta(spark, dir)
    val touched = keys.select(bucketExpr(m).as("__bucket")).distinct()
      .collect().map(_.getInt(0)).toSet
    (readForKeysPre(spark, dir, m, version, keys, touched), touched)
  }

  /** [[readForKeysAt]] for callers that ALREADY hold the keys' touched
    * bucket set (e.g. transferred from a sibling table bucketed by the
    * same columns/nBuckets/types — the join-IVM families' side z-sets)
    * — skips the touched-bucket collect job while keeping the
    * mass-gated candidate pushdown (r15, guide §1.2: one driver job
    * per transferred read). `m` is the table's [[Meta]], which every
    * caller has already read. */
  private[graft] def readForKeysPre(spark: SparkSession, dir: String,
                                    m: Meta, version: Int,
                                    keys: DataFrame,
                                    touched: Set[Int]): DataFrame = {
    val minRows = confL(spark, "graft.mergetable.keyPrune.minRows", 1000000L)
    val mass = readManifest(spark, dir, version)
      .filter(e => touched(e._1)).map(_._3).sum
    val prune =
      if (mass >= minRows) pruneVals(spark, m, keys) else None
    readBucketsAt(spark, dir, version, touched, prune)
  }

  /** True when a batch with these per-bucket key counts would commit
    * WITHOUT consuming a staged whole-bucket read — as a DELTA overlay
    * (scatter shape: no bucket is rewritten) or as a budget-breach
    * FOLD (which re-derives its own old state over batch ∪ overlay
    * keys). The READ half of a refresh uses this to stage the
    * candidate-pushdown read instead of whole buckets: exactly the
    * batches where the whole-bucket `preOld` would be wasted are the
    * ones where the whole-bucket READ is the residual scale term.
    * Manifest metadata only — no data read. */
  private[graft] def commitBypassesCow(spark: SparkSession, dir: String,
                                       perBucket: Map[Int, Long])
      : Boolean = {
    val (buckets, deltas) =
      readManifestFull(spark, dir, latestVersion(spark, dir))
    val (scatterish, overBudget) = modeOf(spark, perBucket, buckets, deltas)
    (scatterish && !overBudget) || (deltas.nonEmpty && overBudget)
  }

  /**
   * The general refresh primitive: given `touchKeys` (any frame
   * carrying the bucket columns), replace the COMPLETE state of the
   * buckets they hash to with `f(oldRowsOfThoseBuckets)` in one
   * committed version. `f` must return every surviving row of the
   * touched buckets (rows of other buckets are untouched by
   * construction and asserted on write). [[merge]] is the common
   * upsert/delete instance; [[Ivm]] uses this directly for its
   * read-combine-write z-set fold.
   *
   * A refresh whose `f` output lands rows in an untouched bucket is a
   * key-routing bug in the caller; it is rejected before the manifest
   * commit (the claim releases, nothing is published).
   */
  def mergeCompute(spark: SparkSession, dir: String, touchKeys: DataFrame)
                  (f: DataFrame => DataFrame): Int =
    mergeComputeInner(spark, dir, touchKeys, dropDeltas = false)(f)

  /** [[mergeCompute]] with overlay control: `dropDeltas` is set by the
    * fold paths whose touch keys provably cover every overlay key —
    * the rewritten buckets then mask the whole overlay by seq and its
    * manifest entries retire. */
  private def mergeComputeInner(spark: SparkSession, dir: String,
                                touchKeys: DataFrame, dropDeltas: Boolean,
                                preTouched: Option[Set[Int]] = None,
                                preOld: Option[DataFrame] = None,
                                preVersion: Option[Int] = None)
                               (f: DataFrame => DataFrame): Int = {
    val m = readMeta(spark, dir)
    val v = latestVersion(spark, dir)
    // STAGED-READ FENCE: a caller that read state (preOld / a staged
    // fold frame) at `preVersion` must commit against exactly that
    // base — an interleaved writer's commit between the staging read
    // and this claim would otherwise be silently erased in the touched
    // buckets (the staged rows are pinned to the older version). The
    // check-then-claim pair is race-free without re-checking inside
    // the claim: if latest advances AFTER this read, our claim of
    // v + 1 dies at claimCommit's already-committed guard (committing
    // any w > v requires the LATEST pointer ≥ v + 1 first, which
    // requires the v + 1 claim we hold).
    preVersion.filter(_ != v).foreach { pv =>
      throw new ConcurrentCommitException(
        s"MergeTable at $dir: staged state was read at version $pv but " +
          s"LATEST is now $v — another writer committed in between; " +
          "re-stage against the current state and retry")
    }
    withClaim(spark, dir, v + 1, FormatVersion, "MergeTable") {
      // `preTouched` carries an already-collected touched-bucket set
      // (from [[bucketStats]], whose groupBy key is null-safe) so
      // validated internal callers skip the null-key count and the
      // touched collect — two driver jobs per commit that dominate
      // small-batch refresh latency
      if (preTouched.isEmpty) {
        val nullKeys = touchKeys
          .filter(m.bucketCols.map(col(_).isNull).reduce(_ || _)).count()
        require(nullKeys == 0,
          s"$nullKeys touch keys carry null bucket columns — null keys " +
            "cannot be merged (the equi-join mask never matches them)")
      }
      val touched = preTouched.getOrElse(
        touchKeys.select(bucketExpr(m).as("__bucket")).distinct()
          .collect().map(_.getInt(0)).toSet)
      val (prev, deltas) = readManifestFull(spark, dir, v)
      val (touchedPrev, keptPrev) = prev.partition(e => touched(e._1))
      // f sees the EFFECTIVE old state of the touched buckets (base
      // reconciled with the overlay); the rewrite's higher seq then
      // masks those overlay rows, so nothing is applied twice. A
      // caller whose STAGED read already materialized exactly these
      // buckets at this version passes it through (`preOld`) — the
      // fold paths otherwise read every touched bucket twice.
      val old = preOld.getOrElse(
        reconcile(spark, dir, m, touchedPrev, deltas, Some(touched)))
      val rel = f"p${v + 1}%05d${VersionedLayout.fence(dir, v + 1)}"
      val out = f(old)
        .select(m.schema.fields.map(fd =>
          col(fd.name).cast(fd.dataType).as(fd.name)): _*)
        .withColumn("__bucket", bucketExpr(m))
      // one contiguous file set per bucket: repartition by bucket id,
      // then partitionBy splits dirs — each task writes whole buckets.
      // KEY-SORTED within each bucket: parquet row groups then carry
      // tight min/max stats on the key columns, so a candidate-pushdown
      // read ([[pruneVals]] isin) prunes row groups instead of scanning
      // the bucket whole — the read half of the scatter story. (Also
      // keeps one open parquet writer per task during partitionBy.)
      out.repartition(col("__bucket"))
        .sortWithinPartitions(col("__bucket") +: m.keyCols.map(col): _*)
        .write.partitionBy("__bucket").mode("overwrite")
        .parquet(statePath(dir, rel))
      // per-bucket counts from the WRITTEN files (footer-only count,
      // no second computation of f's plan); doubles as the routing
      // assertion — a row in an untouched bucket fails the commit here.
      // An all-empty refresh writes no __bucket= dirs at all (drop the
      // p-dir — a file-less dir would fail schema inference later).
      val pOut = new Path(statePath(dir, rel))
      val fsys = fs(spark, dir)
      val bucketDirs = if (!fsys.exists(pOut)) Array.empty[Path]
        else fsys.listStatus(pOut).map(_.getPath)
          .filter(_.getName.startsWith("__bucket="))
      val written: Map[Int, Long] =
        if (bucketDirs.isEmpty) { fsys.delete(pOut, true); Map.empty }
        else footerCounts(spark, bucketDirs, m)
      val stray = written.keySet -- touched
      require(stray.isEmpty,
        s"refresh produced rows for untouched buckets ${stray.mkString(",")}" +
          " — key routing bug in the caller (bucket cols mutated?)")
      val deltasAfter = if (dropDeltas) Seq.empty else deltas
      // a touched bucket that ended EMPTY still needs an emptied-at-seq
      // marker while overlay rows remain, or an older overlay upsert
      // for it would resurrect at read ([[writeManifest]] prunes the
      // markers once the overlay drains)
      val emptied =
        if (deltasAfter.isEmpty) Seq.empty
        else (touched -- written.filter(_._2 > 0).keySet).toSeq
          .map(b => (b, s"$rel/__bucket=$b", 0L))
      val entries = keptPrev ++ written.toSeq.collect {
        case (b, n) if n > 0 => (b, s"$rel/__bucket=$b", n)
      } ++ emptied
      writeManifest(spark, dir, v + 1, entries, deltasAfter)
      if (dropDeltas && deltas.nonEmpty) foldCommits.incrementAndGet()
      else cowCommits.incrementAndGet()
    }
    v + 1
  }

  /** Per-bucket row counts of a just-written p-dir, from the parquet
    * FOOTERS read on the driver — no Spark job at all (r15, guide
    * §1.2: the read-the-files-back count was one more driver job per
    * COW commit, and with AQE each job is 1–3 stage-jobs paying the
    * per-job scheduler floor that dominates small-batch refresh
    * latency). The counts are the same on-disk truth the Spark job
    * produced: a parquet footer's record count IS the file's row
    * count. Driver-side footer reads are one metadata RPC per file —
    * bounded here by `graft.mergetable.footerCount.maxFiles` (64);
    * a wide rewrite (fold / many touched buckets) falls back to the
    * old distributed footer-count job, whose task parallelism is the
    * right tool at that width. */
  private def footerCounts(spark: SparkSession, bucketDirs: Array[Path],
                           m: Meta): Map[Int, Long] = {
    val maxFiles = confL(spark, "graft.mergetable.footerCount.maxFiles", 64L)
    val conf = spark.sparkContext.hadoopConfiguration
    val fsys = bucketDirs.head.getFileSystem(conf)
    val perBucket = bucketDirs.map { bd =>
      val files = fsys.listStatus(bd).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      (bd.getName.stripPrefix("__bucket=").toInt, files)
    }
    if (perBucket.iterator.map(_._2.length).sum > maxFiles)
      // parent p-dir read: partition discovery supplies __bucket
      spark.read.schema(StructType(m.schema.fields :+
          StructField("__bucket", org.apache.spark.sql.types.IntegerType)))
        .parquet(bucketDirs.head.getParent.toString)
        .groupBy("__bucket").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    else perBucket.map { case (b, files) =>
      b -> files.iterator.map(st => graft.io.ParquetOpen.footer(conf, st)
        .getBlocks.iterator.asScala.map(_.getRowCount).sum).sum
    }.toMap
  }

  /** Commit-mode counters (process-wide, observability for specs and
    * the stress harness — the [[TermIndex]] max-score counter's
    * sibling). */
  val cowCommits = new java.util.concurrent.atomic.AtomicLong
  val deltaCommits = new java.util.concurrent.atomic.AtomicLong
  val foldCommits = new java.util.concurrent.atomic.AtomicLong
  /** Reads that engaged first-key candidate pushdown ([[pruneVals]]). */
  val keyPrunedReads = new java.util.concurrent.atomic.AtomicLong

  private def confD(spark: SparkSession, key: String, dflt: Double): Double =
    spark.conf.get(key, dflt.toString).toDouble

  private def confL(spark: SparkSession, key: String, dflt: Long): Long =
    spark.conf.get(key, dflt.toString).toLong

  /** The commit-mode arithmetic (see the class doc), from manifest
    * metadata + the batch's per-bucket key counts alone — no data
    * read. Returns (scatterish, overBudget): DELTA when scatterish
    * and not over budget; FOLD when over budget with an outstanding
    * overlay; COW otherwise. Shared by [[mergeResolved]] and the
    * read-half gate [[commitBypassesCow]] so the two halves of a
    * refresh always agree on the shape of the commit. */
  private def modeOf(spark: SparkSession, perBucket: Map[Int, Long],
                     buckets: Seq[(Int, String, Long)],
                     deltas: Seq[DeltaEntry]): (Boolean, Boolean) = {
    val touched = perBucket.keySet
    val batchRows = perBucket.values.sum
    val tableRows = buckets.map(_._3).sum
    val touchedMass = buckets.filter(e => touched(e._1)).map(_._3).sum
    val outstanding = deltas.map(d => d._2 + d._3).sum
    val overBudget = outstanding + batchRows > deltaBudget(spark, tableRows)
    val scatterFraction =
      confD(spark, "graft.mergetable.scatterFraction", 0.25)
    // absolute floor: below ~a million touched rows a bucket rewrite
    // costs O(seconds) and the overlay's fixed machinery (winner
    // window, masks, eventual fold) dominates — the overlay pays off
    // when the AVOIDED write is large, which is an absolute property,
    // not a ratio (at 100 TB a scattered batch touches GB-scale mass
    // and the floor is far exceeded). Tests and harnesses that want
    // the overlay path at toy scale set the conf to 0.
    val scatterMinRows =
      confL(spark, "graft.mergetable.scatter.minRows", 1000000L)
    val scatterish = tableRows > 0 && batchRows > 0 &&
      touchedMass > scatterFraction * tableRows &&
      touchedMass >= scatterMinRows &&
      2 * batchRows < touchedMass
    (scatterish, overBudget)
  }

  /** Outstanding overlay budget for a table of `tableRows` live rows:
    * scales with the table (fold amortizes to O(batch) bucket-rewrite
    * work per commit) but is capped absolutely — the overlay's key
    * mask is BROADCAST on every read, so its row count must stay
    * driver/executor-memory safe regardless of table size.
    *
    * The manifest's outstanding counts are an UPPER BOUND on live
    * overlay rows: a COW commit seq-masks the overlay rows of the
    * buckets it rewrites but the per-delta counts are not re-derived
    * (that would cost a data job per commit). The bound only ever
    * triggers a FOLD early — never late — so the broadcast-safety
    * property the budget protects is conservative by construction. */
  private def deltaBudget(spark: SparkSession, tableRows: Long): Long = {
    val lo = confL(spark, "graft.mergetable.delta.minRows", 65536L)
    val hi = confL(spark, "graft.mergetable.delta.maxRows", 4194304L)
    val frac = confD(spark, "graft.mergetable.delta.tableFraction", 0.125)
    math.min(hi, math.max(lo, (tableRows * frac).toLong))
  }

  /**
   * The resolved-batch commit primitive behind [[merge]]: `upserts`
   * (full rows, unique per key) and `deleteKeys` (key columns) with
   * DISJOINT key sets — validation is the public API's job; the IVM
   * layer lands here with sets that are disjoint by construction.
   * Exactly ONE version per call (quiet batches included), in the
   * mode the manifest's own row counts pick — COW, DELTA, or FOLD
   * (see the class doc).
   */
  private[graft] def mergeResolved(spark: SparkSession, dir: String,
                                   upserts: DataFrame,
                                   deleteKeys: DataFrame,
                                   preStats: Option[Map[Int, Long]] = None,
                                   preOld: Option[DataFrame] = None,
                                   preVersion: Option[Int] = None)
      : Int = {
    val m = readMeta(spark, dir)
    val v = latestVersion(spark, dir)
    // staged-read fence (see [[mergeComputeInner]]): `upserts` from a
    // staged fold are themselves pinned to the staging version, so the
    // check guards ALL THREE commit modes — the claim's
    // already-committed guard closes the window after this read.
    preVersion.filter(_ != v).foreach { pv =>
      throw new ConcurrentCommitException(
        s"MergeTable at $dir: staged batch was computed against version " +
          s"$pv but LATEST is now $v — another writer committed in " +
          "between; re-stage against the current state and retry")
    }
    val kc = m.keyCols
    val ups = upserts.select(m.schema.fields.map(fd =>
      col(fd.name).cast(fd.dataType).as(fd.name)): _*)
    val dels = deleteKeys.select(kc.map(n =>
      col(n).cast(m.schema(n).dataType).as(n)): _*)
    val touch = ups.select(kc.map(col): _*).unionByName(dels)
    // ONE batch-sized job decides the mode: per-bucket batch key
    // counts give the touched set AND the batch size; the touched
    // MASS comes from the manifest (driver metadata, no data read).
    // Callers that already collected the stats for their read half
    // pass them through — no second job.
    val perBucket = preStats.getOrElse(
      touch.select(bucketExpr(m).as("__bucket"))
        .groupBy("__bucket").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap)
    val touched = perBucket.keySet
    val (buckets, deltas) = readManifestFull(spark, dir, v)
    val (scatterish, overBudget) = modeOf(spark, perBucket, buckets, deltas)
    if (scatterish && !overBudget) {
      // DELTA: commit the batch as one overlay dataset — no bucket read,
      // no bucket write, O(batch) for any key distribution
      withClaim(spark, dir, v + 1, FormatVersion, "MergeTable") {
        val rel = f"d${v + 1}%05d${VersionedLayout.fence(dir, v + 1)}"
        val nullRest = m.schema.fields.filterNot(fd => kc.contains(fd.name))
        val data = ups.withColumn("__op", lit("u")).unionByName(
          dels.select(kc.map(col) ++ nullRest.map(fd =>
            lit(null).cast(fd.dataType).as(fd.name)) :+
            lit("d").as("__op"): _*))
        // batch-sized dataset: keep the file count low (the TermIndex
        // small-segment lesson — per-commit file fan-out is the DFS
        // metadata-pressure term); key-sorted so pruned reads skip
        // overlay row groups too
        data.coalesce(8).sortWithinPartitions(kc.map(col): _*)
          .write.mode("overwrite")
          .parquet(statePath(dir, rel))
        // counts from the WRITTEN files (footer-only), so the manifest
        // reflects on-disk truth — they drive the fold budget
        val byOp = spark.read.schema(deltaSchema(m))
          .parquet(statePath(dir, rel))
          .groupBy("__op").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        writeManifest(spark, dir, v + 1, buckets,
          deltas :+ ((rel, byOp.getOrElse("u", 0L), byOp.getOrElse("d", 0L))))
        deltaCommits.incrementAndGet()
      }
      v + 1
    } else if (deltas.nonEmpty && overBudget) {
      // FOLD: one COW commit over batch ∪ overlay keys retires the
      // whole overlay and applies the batch — still one version
      val m2 = m
      val overlayKeys = deltaRows(spark, dir, m2, deltas)
        .select(kc.map(col): _*)
      val allTouch = touch.unionByName(overlayKeys).distinct()
      mergeComputeInner(spark, dir, allTouch, dropDeltas = true,
        preVersion = preVersion) { old =>
        keyJoin(old, touch.distinct(), kc, "left_anti").unionByName(ups)
      }
    } else {
      // COW: rewrite the touched buckets (the clustered steady state);
      // the touched set — and, from fold callers, the staged bucket
      // read itself — is already materialized: no re-derivation
      mergeComputeInner(spark, dir, touch, dropDeltas = false,
        preTouched = Some(touched), preOld = preOld,
        preVersion = preVersion) { old =>
        keyJoin(old, touch.distinct(), kc, "left_anti").unionByName(ups)
      }
    }
  }

  /** Fold the whole overlay into its buckets in one committed version
    * (idempotent — returns the current version when the overlay is
    * already empty). Runs automatically when a merge would breach the
    * overlay budget; call it explicitly to hand the read path its
    * zero-overlay plan before a latency-sensitive consumer. */
  def compact(spark: SparkSession, dir: String): Int = {
    val v = latestVersion(spark, dir)
    val (_, deltas) = readManifestFull(spark, dir, v)
    if (deltas.isEmpty) return v
    val m = readMeta(spark, dir)
    val overlayKeys = deltaRows(spark, dir, m, deltas)
      .select(m.keyCols.map(col): _*).distinct()
    // the reconciled old state IS the folded state — identity rewrite
    mergeComputeInner(spark, dir, overlayKeys, dropDeltas = true)(old => old)
  }

  /**
   * Upsert/delete refresh: rows keyed by `keyCols` in `upserts` replace
   * existing rows; keys in `deleteKeys` are removed; a key in BOTH
   * resolves delete-wins when `deleteWins` (the [[DigestIndex.applyCdc]]
   * sibling contract) or upsert-wins otherwise. Upserts must be unique
   * per key after resolution (asserted — "which copy wins" is not a
   * DataFrame ordering question this API will answer silently).
   * Deletes of absent keys are no-ops. Returns the committed version;
   * a no-op batch still advances the version (the sibling families'
   * quiet-batch contract, so stream wrappers can pair batch↔version).
   */
  def merge(spark: SparkSession, dir: String, upserts: DataFrame,
            deleteKeys: DataFrame, deleteWins: Boolean = true): Int = {
    val m = readMeta(spark, dir)
    val kc = m.keyCols
    val up = upserts.select(m.schema.fields.map(fd =>
      col(fd.name).cast(fd.dataType).as(fd.name)): _*)
    val del = deleteKeys.select(kc.map(n =>
      col(n).cast(m.schema(n).dataType).as(n)): _*)
    val liveUp =
      if (deleteWins) up.join(broadcast(del), kc, "left_anti") else up
    val liveDel =
      if (deleteWins) del
      else del.join(broadcast(up.select(kc.map(col): _*)), kc, "left_anti")
    // ONE fused validation + stats job (previously THREE driver jobs —
    // duplicate-key count, null-key count, and mergeResolved's own
    // per-bucket collect — each paying the per-job floor that dominates
    // small-batch merge latency, guide §1.2): a per-key aggregate over
    // the tagged batch key set yields, per bucket, the distinct touched
    // keys (exactly mergeResolved's touch stats: liveUp ∪ liveDel key
    // sets are disjoint after resolution, so |touch| per bucket =
    // distinct(up ∪ del) keys per bucket), the count of keys that would
    // survive resolution with more than one upsert row, and the count
    // of null keys.
    val tagged = up.select(kc.map(col) :+ lit(1L).as("__isUp"): _*)
      .unionByName(del.select(kc.map(col) :+ lit(0L).as("__isUp"): _*))
    val perKey = tagged.groupBy(kc.map(col): _*)
      .agg(sum(col("__isUp")).as("__ups"),
        max(lit(1L) - col("__isUp")).as("__hasDel"))
    // a key duplicated among upserts only matters if it survives
    // resolution: under delete-wins a deleted key's upserts are dropped
    val dupCond =
      if (deleteWins) col("__ups") > 1 && col("__hasDel") === 0
      else col("__ups") > 1
    val nullCond = kc.map(col(_).isNull).reduce(_ || _)
    val statRows = perKey
      .groupBy(bucketExpr(m).as("__bucket"))
      .agg(count(lit(1)).as("__n"),
        sum(when(dupCond, lit(1L)).otherwise(lit(0L))).as("__dups"),
        sum(when(nullCond, lit(1L)).otherwise(lit(0L))).as("__nulls"))
      .collect()
    val dupKeys = statRows.map(_.getLong(2)).sum
    require(dupKeys == 0,
      s"$dupKeys upsert keys appear more than once in the batch — " +
        "deduplicate (pick a winner) before merging")
    val nullKeys = statRows.map(_.getLong(3)).sum
    require(nullKeys == 0,
      s"$nullKeys batch keys carry null key columns — null keys cannot " +
        "be merged (the equi-join mask never matches them)")
    mergeResolved(spark, dir, liveUp, liveDel.distinct(),
      preStats = Some(statRows.map(r => r.getInt(0) -> r.getLong(1)).toMap))
  }

  /** Live bucket stats at LATEST: (bucket, rows) plus the manifest's
    * path spread — the health view that shows a mis-sized nBuckets
    * (few huge buckets → merges degrade toward full rewrites; a long
    * tail of stale p-dirs → run [[gc]]). Emptied-at-seq marker entries
    * (rows == 0, kept in the manifest only to seq-mask older overlay
    * rows) carry no data and are filtered out — callers counting
    * buckets or summing rows see live state only. */
  def stats(spark: SparkSession, dir: String): Seq[(Int, String, Long)] =
    readManifest(spark, dir, latestVersion(spark, dir)).filter(_._3 > 0)

  /** Outstanding overlay at LATEST: (datasets, upsertRows, deleteRows)
    * — the read-amplification health view ([[compact]] drains it). */
  def overlayStats(spark: SparkSession, dir: String): (Int, Long, Long) = {
    val d = readDeltas(spark, dir, latestVersion(spark, dir))
    (d.length, d.map(_._2).sum, d.map(_._3).sum)
  }

  /** Drop version dirs older than the last `retainLast` and bucket
    * data dirs no retained manifest references (bucket-granular: one
    * p-dir can be live for bucket 3 and dead for bucket 5). In-flight
    * writers are safe: only p-seqs ≤ LATEST are swept, and the claim
    * protocol keeps concurrent writers off p-seqs ≤ LATEST. */
  def gc(spark: SparkSession, dir: String, retainLast: Int): Unit = {
    require(retainLast >= 1, s"retainLast must be >= 1: $retainLast")
    val latest = latestVersion(spark, dir)
    val f = fs(spark, dir)
    val keepFrom = math.max(1, latest - retainLast + 1)
    (1 until keepFrom).foreach(v =>
      f.delete(new Path(versionDir(dir, v)), true))
    val liveVersions = (keepFrom to latest)
      .filter(v => f.exists(new Path(versionDir(dir, v))))
    val manifests = liveVersions.map(readManifestFull(spark, dir, _))
    val referenced = manifests.flatMap(_._1.map(_._2)).toSet
    val referencedDeltas = manifests.flatMap(_._2.map(_._1)).toSet
    val stateRoot = new Path(s"${dir.stripSuffix("/")}/state")
    if (f.exists(stateRoot))
      f.listStatus(stateRoot).foreach { p =>
        val pName = p.getPath.getName
        val pSeq = pName.drop(1).takeWhile(_.isDigit).toIntOption
          .getOrElse(Int.MaxValue)
        if (pSeq <= latest) {
          if (pName.startsWith("d")) {
            // overlay datasets are whole-dir referenced
            if (!referencedDeltas.contains(pName)) f.delete(p.getPath, true)
          } else {
            f.listStatus(p.getPath).foreach { b =>
              val rel = s"$pName/${b.getPath.getName}"
              if (b.getPath.getName.startsWith("__bucket=") &&
                  !referenced.contains(rel))
                f.delete(b.getPath, true)
            }
            if (f.listStatus(p.getPath)
                  .forall(st => !st.getPath.getName.startsWith("__bucket=")))
              f.delete(p.getPath, true)
          }
        }
      }
  }
}
