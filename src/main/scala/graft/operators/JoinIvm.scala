package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incrementally-maintained JOIN-aggregate view — the star-schema
 * rollup `SELECT g…, count(*), sum(x)… FROM fact JOIN dim USING (k…)
 * GROUP BY g…` kept exact under CDC on BOTH sides, refreshed in
 * O(batch × matching mass) instead of re-joining the corpus. The
 * missing shape after [[Ivm]]: single-table views cover per-column
 * stats, but every reporting rollup joins a fact to a dimension, and a
 * dimension UPDATE (a customer changes segment) invalidates every
 * joined row of that key — at 100 TB the naive answer is a full
 * fact-side re-join per refresh.
 *
 * Technique — the standard bilinear join delta over z-sets (see DBSP,
 * Budiu et al. VLDB'23 §4, and the counting algorithm of
 * Gupta/Mumick/Subrahmanian SIGMOD'93): with F' = F + ΔF, D' = D + ΔD,
 *
 *   Δ(F ⋈ D) = ΔF ⋈ D'  +  F ⋈ ΔD
 *            (joined multiplicities multiply; the ΔF⋈ΔD cross term is
 *            inside ΔF ⋈ D' exactly once)
 *
 * so a refresh needs ΔF against the NEW dim state restricted to ΔF's
 * join keys, and the OLD fact state restricted to ΔD's join keys
 * (recovered as F = F' − ΔF on those keys — no pre-commit snapshot is
 * retained). Both restrictions are touched-bucket reads: the two side
 * z-sets are [[MergeTable]]s BUCKETED BY JOIN KEY, so "every fact row
 * of the customers in this batch" is a bucket-pruned scan, never a
 * corpus scan.
 *
 * Aggregates: Count / Sum / Avg only — they are INVERTIBLE, so the
 * view folds signed per-group deltas without storing the joined z-set
 * at all (state = the two side projections, never |F ⋈ D|). Min/max/
 * count-distinct over a join would need exactly that joined state;
 * use [[Ivm]] on a materialized join if you need them, and see the
 * float caveat on [[Spec]] for Sum/Avg columns.
 *
 * Layout under `dir/`: `factz/`, `dimz/` (side z-sets: one row per
 * distinct projected tuple with multiplicity `__mult`, keyed by the
 * full tuple, bucketed by the join cols), `view/` (one row per live
 * group: hidden `__cnt`, `__sum_<c>`, `__cntnn_<c>` columns a read
 * projects through the requested aggregates), `SPEC`, and a `VIEWSYNC`
 * marker recording the (factz, dimz) versions the view reflects —
 * the three tables commit in order and a crash in between refuses
 * further deltas until [[rebuildView]] (an O(state) bucket-local
 * re-join) repairs. Writer exclusion, atomic versions, pinned reads
 * and gc come from [[MergeTable]]/[[VersionedLayout]].
 *
 * (The reference has no join-view surface; its pipelines re-cogroup
 * whole inputs per run — /root/reference/cogroup.go. This is the
 * beyond-reference consumer that makes two-sided CDC pay off.)
 */
object JoinIvm {

  /** View definition. `joinCols` must exist in BOTH input schemas
    * (same names — rename upstream); every group/aggregate column in
    * exactly ONE schema (its side is inferred). Sum/Avg columns should
    * be integral for bit-exact maintenance under retraction — a
    * DOUBLE sum that retracts (+a then −a) can drift in the last bit
    * vs a fresh recompute (floating addition is not associative);
    * quantize currencies to integer cents upstream, the
    * [[functions.TextFunctions]] integer-scoring discipline. */
  final case class Spec(joinCols: Seq[String], groupCols: Seq[String],
                        aggs: Seq[Ivm.Agg]) {
    require(joinCols.nonEmpty, "at least one join column")
    require(groupCols.nonEmpty, "at least one group column")
    require(aggs.nonEmpty, "at least one aggregate")
    require(aggs.map(_.out).distinct.length == aggs.length,
      "aggregate output names must be unique")
    aggs.foreach {
      case _: Ivm.Count | _: Ivm.Sum | _: Ivm.Avg => ()
      case a => throw new IllegalArgumentException(
        s"JoinIvm maintains Count/Sum/Avg only (invertible — no joined " +
          s"state); got $a. Min/max/count-distinct need the joined " +
          "z-set: run Ivm over a materialized join instead.")
    }
    def sumCols: Seq[String] = aggs.flatMap(_.in).distinct
  }

  private val Mult = "__mult"

  import VersionedLayout.{atomicWrite, fs, readSmall}

  private def factzDir(dir: String) = s"${dir.stripSuffix("/")}/factz"
  private def dimzDir(dir: String) = s"${dir.stripSuffix("/")}/dimz"
  private def viewDir(dir: String) = s"${dir.stripSuffix("/")}/view"

  private def writeSpec(spark: SparkSession, dir: String, s: Spec): Unit = {
    val cols = s.joinCols ++ s.groupCols ++ s.sumCols
    require(cols.forall(c => !c.contains(",") && !c.contains("\t")),
      "column names must not contain ',' or tab (SPEC format)")
    val lines = Seq(s"join\t${s.joinCols.mkString(",")}",
      s"group\t${s.groupCols.mkString(",")}") ++
      s.aggs.map {
        case Ivm.Count(o)  => s"agg\tcount\t\t$o"
        case Ivm.Sum(c, o) => s"agg\tsum\t$c\t$o"
        case Ivm.Avg(c, o) => s"agg\tavg\t$c\t$o"
        case a => throw new IllegalArgumentException(s"unreachable: $a")
      }
    atomicWrite(fs(spark, dir), new Path(dir, "SPEC"), lines.mkString("\n"))
  }

  def readSpec(spark: SparkSession, dir: String): Spec = {
    val lines = readSmall(fs(spark, dir), new Path(dir, "SPEC")).split("\n")
    val join = lines(0).split("\t", 2)(1).split(",").toSeq
    val group = lines(1).split("\t", 2)(1).split(",").toSeq
    val aggs = lines.drop(2).toSeq.map { l =>
      val p = l.split("\t", -1)
      (p(1), p(2), p(3)) match {
        case ("count", _, o) => Ivm.Count(o)
        case ("sum", c, o)   => Ivm.Sum(c, o)
        case ("avg", c, o)   => Ivm.Avg(c, o)
        case (k, _, _) => throw new IllegalArgumentException(s"bad agg $k")
      }
    }
    Spec(join, group, aggs)
  }

  private def sumType(t: DataType): DataType = t match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case _                                             => DoubleType
  }

  /** Hidden view storage columns: __cnt plus (__sum_c, __cntnn_c) per
    * referenced column. */
  private def hiddenSchema(spec: Spec, zf: StructType,
                           zd: StructType): StructType = {
    def typeOf(c: String): DataType =
      if (zf.fieldNames.contains(c)) zf(c).dataType else zd(c).dataType
    StructType(
      spec.groupCols.map(c => StructField(c, typeOf(c))) ++
        Seq(StructField("__cnt", LongType)) ++
        spec.sumCols.flatMap(c => Seq(
          StructField(s"__sum_$c", sumType(typeOf(c))),
          StructField(s"__cntnn_$c", LongType))))
  }

  /** Signed per-group deltas of the hidden columns over joined z-set
    * rows carrying a signed `__jm` multiplicity. */
  private def hiddenDeltas(spec: Spec, j: DataFrame): DataFrame =
    j.groupBy(spec.groupCols.map(col): _*)
      .agg(sum(col("__jm")).cast(LongType).as("__cnt"),
        spec.sumCols.flatMap(c => Seq(
          sum(col(c) * col("__jm")).as(s"__sum_$c"),
          sum(when(col(c).isNotNull, col("__jm")).otherwise(lit(0L)))
            .cast(LongType).as(s"__cntnn_$c"))): _*)

  /** STATS TRANSFER guard (r15, guide §1.2): a delta's touched-bucket
    * set computed against ONE side z-set is the other side's too
    * exactly when both bucket by the join columns, in order, with the
    * same nBuckets and the same join-column types (xxhash64 of an int
    * and a long differ). `create` pins all of it; this re-checks every
    * invariant the shortcut depends on, and on any mismatch the caller
    * falls back to per-side touched-bucket reads. Shared with
    * [[IvmOverJoin]]. */
  private[graft] def statsTransfer(fMeta: MergeTable.Meta,
                                   dMeta: MergeTable.Meta,
                                   joinCols: Seq[String]): Boolean =
    fMeta.nBuckets == dMeta.nBuckets &&
      fMeta.bucketCols == joinCols && dMeta.bucketCols == joinCols &&
      joinCols.forall(c =>
        fMeta.schema(c).dataType == dMeta.schema(c).dataType)

  /** Create the empty maintained join view. Side projections are
    * inferred from the spec: each side's z-set carries the join cols
    * plus the group/aggregate cols found in ITS schema. */
  def create(spark: SparkSession, dir: String, factSchema: StructType,
             dimSchema: StructType, spec: Spec, nBuckets: Int = 64): Unit = {
    spec.joinCols.foreach(c => require(
      factSchema.fieldNames.contains(c) && dimSchema.fieldNames.contains(c),
      s"join column $c must exist in BOTH schemas (rename upstream)"))
    (spec.groupCols ++ spec.sumCols).foreach { c =>
      val inF = factSchema.fieldNames.contains(c)
      val inD = dimSchema.fieldNames.contains(c)
      require(inF ^ inD,
        s"column $c must exist in exactly one side's schema " +
          s"(fact: $inF, dim: $inD)")
    }
    writeSpec(spark, dir, spec)
    def zSchema(side: StructType): StructType = {
      val own = (spec.groupCols ++ spec.sumCols)
        .filter(side.fieldNames.contains).distinct
      StructType((spec.joinCols ++ own).map(c => side(c)) :+
        StructField(Mult, LongType))
    }
    val zf = zSchema(factSchema)
    val zd = zSchema(dimSchema)
    MergeTable.create(spark, factzDir(dir), zf,
      keyCols = zf.fieldNames.toSeq.filterNot(_ == Mult),
      bucketCols = spec.joinCols, nBuckets = nBuckets)
    MergeTable.create(spark, dimzDir(dir), zd,
      keyCols = zd.fieldNames.toSeq.filterNot(_ == Mult),
      bucketCols = spec.joinCols, nBuckets = nBuckets)
    MergeTable.create(spark, viewDir(dir), hiddenSchema(spec, zf, zd),
      keyCols = spec.groupCols, bucketCols = spec.groupCols,
      nBuckets = nBuckets)
    syncMarker(spark, dir, 1, 1)
  }

  /** Records the z-set versions THIS caller folded into the view —
    * never re-read from LATEST, so an interleaved writer's newer z-set
    * commits are not silently claimed as reflected (the next
    * applyDelta's marker≠latest check refuses instead). The composite
    * three-table protocol is single-writer by contract; the inner
    * table commits are individually claim-serialized either way. */
  private def syncMarker(spark: SparkSession, dir: String,
                         fv: Int, dv: Int): Unit =
    atomicWrite(fs(spark, dir), new Path(dir, "VIEWSYNC"), s"$fv $dv")

  private def readSync(spark: SparkSession, dir: String): (Int, Int) = {
    val p = readSmall(fs(spark, dir), new Path(dir, "VIEWSYNC")).split(" ")
    (p(0).toInt, p(1).toInt)
  }

  /** Stage one side's z-set fold READ-ONLY: net the signed delta
    * against the committed state (touched-bucket + overlay read) and
    * reject a batch that would drive a multiplicity negative — a
    * delete of a row never inserted. Nothing is written here, so a
    * rejection anywhere in a multi-side refresh is a CLEAN abort:
    * "nothing was committed by this refresh" is true for EVERY side
    * (the pre-r13 fold committed as it validated, so a dim-side
    * rejection left the fact side landed and the operator parsing
    * INFLIGHT recovery docs — the r12 ADVICE item, now structural).
    * Returns the persisted netted key-state frame for [[commitFold]];
    * the caller unpersists. */
  /** A staged side fold: the persisted netted key-state frame, the
    * per-bucket batch stats AND the staged touched-bucket read — its
    * commit half reuses all three (one collect and one bucket read per
    * fold, not three and two). `release()` drops both cached frames. */
  private[graft] final case class StagedFold(nz: DataFrame,
                                             stats: Map[Int, Long],
                                             rows: DataFrame,
                                             baseVersion: Int,
                                             pruned: Boolean) {
    def release(): Unit = {
      nz.unpersist(blocking = false)
      rows.unpersist(blocking = false)
    }
  }

  private[graft] def stageFold(spark: SparkSession, zdir: String,
                               what: String, cols: Seq[String],
                               delta: DataFrame,
                               nullCheckCols: Seq[String] = Seq.empty)
      : StagedFold = {
    val zLatest = MergeTable.latestVersion(spark, zdir)
    val dKeys = delta.select(cols.map(col): _*)
    // ONE collect serves the bucket-pruned read AND the commit-mode
    // decision (delta keys and the netted ups/dels keys are the SAME
    // key set, so the stats transfer exactly)
    val stats = MergeTable.bucketStats(spark, zdir, dKeys)
    // scatter-shaped batches commit without rewriting the touched
    // buckets, so stage a candidate-pushdown read (first key column
    // isin → row-group stats) instead of the buckets whole; the exact
    // key mask below is unchanged either way
    val prune =
      if (MergeTable.commitBypassesCow(spark, zdir, stats))
        MergeTable.pruneVals(spark, MergeTable.readMeta(spark, zdir), dKeys)
      else None
    val bucketRows =
      MergeTable.readBucketsAt(spark, zdir, zLatest, stats.keySet, prune)
        .persist()
    val oldKeyRows =
      MergeTable.keyJoin(bucketRows, dKeys, cols, "left_semi")
    val nz = oldKeyRows.select(cols.map(col) :+ col(Mult): _*)
      .unionByName(delta.withColumnRenamed("__d", Mult))
      .groupBy(cols.map(col): _*).agg(sum(col(Mult)).as(Mult))
      .persist()
    val staged = StagedFold(nz, stats, bucketRows, zLatest, prune.isDefined)
    // ONE validation action computes the negativity count AND (when
    // requested) the NULL join/group key count — previously a separate
    // driver job per side and per refresh (guide §1.2: the per-job
    // floor dominates small-batch refresh latency). Null keys in nz
    // can only come from the DELTA (committed state rejected them at
    // its own ingest), so counting them here is equivalent to counting
    // them on the delta — and still strictly BEFORE any commit.
    val nullExpr =
      if (nullCheckCols.isEmpty) lit(0L)
      else sum(when(nullCheckCols.map(col(_).isNull).reduce(_ || _),
        lit(1L)).otherwise(lit(0L)))
    val checks =
      try nz.agg(
        coalesce(sum(when(col(Mult) < 0, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("__neg"),
        coalesce(nullExpr, lit(0L)).as("__nulls")).collect()(0)
      catch { case e: Throwable => staged.release(); throw e }
    val (neg, nulls) = (checks.getLong(0), checks.getLong(1))
    if (nulls > 0) {
      staged.release()
      throw new IllegalArgumentException(
        s"requirement failed: $nulls $what key tuples carry NULL " +
          "join/group columns — null join keys and null groups are not " +
          "supported (coalesce upstream); nothing was committed " +
          "(staging validates every side before any side commits)")
    }
    if (neg > 0) {
      staged.release()
      throw new IllegalArgumentException(
        s"requirement failed: $neg $what rows would go NEGATIVE — the " +
          "batch deletes rows that were never inserted; the change " +
          "stream is inconsistent with the maintained state (nothing " +
          "was committed by this refresh — staging validates every " +
          "side before any side commits)")
    }
    staged
  }

  /** Commit a staged fold: a BATCH-SIZED upsert/delete write — only
    * the delta's own keys changed, and [[MergeTable.mergeResolved]]
    * picks the commit mode (COW buckets for clustered keys, an overlay
    * delta for scattered ones), so a uniform-key CDC batch no longer
    * rewrites ~every bucket. Advances the side by exactly one
    * version. */
  private[graft] def commitFold(spark: SparkSession, zdir: String,
                                cols: Seq[String],
                                staged: StagedFold): Unit = {
    MergeTable.mergeResolved(spark, zdir,
      staged.nz.filter(col(Mult) =!= 0),
      staged.nz.filter(col(Mult) === 0).select(cols.map(col): _*),
      preStats = Some(staged.stats),
      // a pruned staged read is not the complete touched-bucket state
      // a COW rewrite could reuse
      preOld = if (staged.pruned) None else Some(staged.rows),
      // staged-read fence: the staged frames are pinned to the version
      // stageFold read — an interleaved writer fails the commit loudly
      // (ConcurrentCommitException) instead of being silently erased
      preVersion = Some(staged.baseVersion))
    ()
  }

  /** Stage + commit one side (the single-side resume path). */
  private[graft] def foldSide(spark: SparkSession, zdir: String,
                              what: String, cols: Seq[String],
                              delta: DataFrame,
                              nullCheckCols: Seq[String] = Seq.empty): Unit = {
    val staged = stageFold(spark, zdir, what, cols, delta, nullCheckCols)
    try commitFold(spark, zdir, cols, staged)
    finally staged.release()
  }

  /**
   * Apply one two-sided CDC batch (any of the four frames may be
   * empty; deletes carry BEFORE-IMAGES). Commits factz, dimz, then the
   * view, in O(batch + touched join-key buckets + touched groups).
   * Returns (factzVersion, dimzVersion, viewVersion).
   *
   * Crash recovery: the three commits are sequential, not atomic. An
   * INFLIGHT marker (recording the pre-batch z-set versions) brackets
   * the refresh; if a crash leaves it behind, the next applyDelta
   * refuses with the recovery procedure: compare the recorded
   * pre-versions to the current ones to see which SIDE z-sets already
   * absorbed the batch (each fold advances its side by exactly one),
   * run [[rebuildView]] (which restores view consistency and clears
   * the marker), then re-submit ONLY the side(s) that did not land —
   * an applyDelta with the landed side's frames empty.
   */
  def applyDelta(spark: SparkSession, dir: String,
                 factInserts: DataFrame, factDeletes: DataFrame,
                 dimInserts: DataFrame, dimDeletes: DataFrame)
      : (Int, Int, Int) =
    applyDeltaFolding(spark, dir, factInserts, factDeletes, dimInserts,
      dimDeletes, foldFact = true, foldDim = true)

  /** [[applyDelta]] with per-side fold control — the RESUME primitive
    * for a refresh that crashed between the side commits, to be called
    * only after [[rebuildView]] restored view↔z-set consistency. A
    * side with fold = false already absorbed this batch: its z-set is
    * not folded again (the version does not advance) and its delta is
    * ZEROED in the view math — the rebuild baked that side's effect
    * into the view, so the remaining delta to reach (F′, D′) is the
    * OTHER side's term alone (e.g. fact landed, view rebuilt to
    * F′ ⋈ D: remaining = F′ ⋈ ΔD, which is exactly what dF = 0 makes
    * the bilinear formula produce). Streaming redelivery uses this so
    * a recovered batch consumes exactly one version per side (the
    * batch↔version pairing stays arithmetic). */
  private[graft] def applyDeltaFolding(spark: SparkSession, dir: String,
                 factInserts: DataFrame, factDeletes: DataFrame,
                 dimInserts: DataFrame, dimDeletes: DataFrame,
                 foldFact: Boolean, foldDim: Boolean)
      : (Int, Int, Int) = {
    val spec = readSpec(spark, dir)
    val (fv0, dv0) = (MergeTable.latestVersion(spark, factzDir(dir)),
      MergeTable.latestVersion(spark, dimzDir(dir)))
    val fsys = fs(spark, dir)
    val inflight = new Path(dir, "INFLIGHT")
    require(!fsys.exists(inflight), {
      val rec = readSmall(fsys, inflight)
      s"view at $dir has an interrupted refresh (INFLIGHT pre-versions " +
        s"$rec; z-sets now at $fv0 $dv0 — a side that advanced past its " +
        "recorded pre-version already absorbed the batch): run " +
        "JoinIvm.rebuildView, then re-submit only the side(s) that did " +
        "not land"
    })
    require(readSync(spark, dir) == ((fv0, dv0)),
      s"view at $dir is behind its z-sets (crash between commits?) — " +
        "run JoinIvm.rebuildView first")
    atomicWrite(fsys, inflight, s"$fv0 $dv0")
    // a failure that committed NOTHING (a rejected inconsistent batch,
    // a lost claim race before any flip) is a clean abort: clear the
    // marker so the caller can just retry; a failure after a side
    // advanced leaves it for the documented recovery
    def abortCleanIfNothingLanded(): Unit =
      if (MergeTable.latestVersion(spark, factzDir(dir)) == fv0 &&
          MergeTable.latestVersion(spark, dimzDir(dir)) == dv0)
        fsys.delete(inflight, false)
    val fMeta = MergeTable.readMeta(spark, factzDir(dir))
    val dMeta = MergeTable.readMeta(spark, dimzDir(dir))
    val fCols = fMeta.schema.fieldNames.toSeq.filterNot(_ == Mult)
    val dCols = dMeta.schema.fieldNames.toSeq.filterNot(_ == Mult)
    def zdelta(ins: DataFrame, del: DataFrame, cols: Seq[String],
               schema: StructType): DataFrame = {
      def proj(df: DataFrame, sign: Int): DataFrame =
        df.select(cols.map(c =>
          col(c).cast(schema(c).dataType).as(c)) :+
          lit(sign.toLong).as("__d"): _*)
      proj(ins, 1).unionByName(proj(del, -1))
        .groupBy(cols.map(col): _*).agg(sum(col("__d")).as("__d"))
        .persist()
    }
    // a landed (fold = false) side contributes a ZERO delta — see the
    // applyDeltaFolding doc
    val dF =
      if (foldFact) zdelta(factInserts, factDeletes, fCols, fMeta.schema)
      else zdelta(factInserts.limit(0), factDeletes.limit(0), fCols,
        fMeta.schema)
    val dD =
      if (foldDim) zdelta(dimInserts, dimDeletes, dCols, dMeta.schema)
      else zdelta(dimInserts.limit(0), dimDeletes.limit(0), dCols,
        dMeta.schema)
    // NULL join keys / group columns reject BEFORE any commit — a
    // null group discovered only at the view fold would leave a
    // half-applied refresh that rebuildView (hitting the same null
    // check) could not repair. SQL GROUP BY's null group is not
    // supported; coalesce upstream. Null VALUE columns are fine.
    // The check itself is FUSED into each side's staging validation
    // action (stageFold's nullCheckCols — one job per side instead of
    // two extra serial driver jobs per refresh, guide §1.2), which
    // still runs strictly before any commit.
    def nullCols(sideCols: Seq[String]): Seq[String] =
      (spec.joinCols ++ spec.groupCols).filter(sideCols.contains)
    val handles = scala.collection.mutable.ListBuffer[DataFrame](dF, dD)
    try {
      // ---- view staging (READ-ONLY, runs concurrently with the side
      // commits below). Δ(F⋈D) = ΔF ⋈ D′ + F ⋈ ΔD, multiplicities
      // multiplied — with BOTH terms derived from PRE-COMMIT state +
      // the staged folds (r15, guide §2.6: the serial joined-delta
      // segment after the side commits was the remaining chain cost):
      //   D′ on ΔF's keys = (D@dv0 on ΔF's keys  MINUS  ΔD's tuples)
      //                     ∪ (staged dim fold's netted new state,
      //                        mult ≠ 0 — exactly ΔD's tuples' new
      //                        rows), null-safe on the full tuple;
      //   F  on ΔD's keys = F@fv0 directly (the old post-commit form
      //                     recovered it as F′ − ΔF: an extra union +
      //                     re-aggregation per refresh).
      // `sidesStaged` is None on the one-sided RESUME paths — there
      // either ΔD is empty (the anti∪union is the identity) or ΔF is
      // empty (the D′ term joins against an empty delta), so reading
      // the dim state at dv0 stays exact in every case.
      // Returns (folded view rows [persisted+materialized], view
      // commit stats, view base version).
      val hidden = hiddenSchema(spec, fMeta.schema, dMeta.schema)
      val hCols = hidden.fieldNames.toSeq
      val vd0 = viewDir(dir)
      def stageView(sidesStaged: Option[(StagedFold, StagedFold)])
          : (DataFrame, Map[Int, Long], Int) = {
        // stats transfer ([[statsTransfer]]): saves the two
        // touched-bucket collect jobs per staging
        val transfer = sidesStaged.isDefined &&
          statsTransfer(fMeta, dMeta, spec.joinCols)
        val dimOldForDF =
          if (transfer)
            MergeTable.readForKeysPre(spark, dimzDir(dir), dMeta, dv0,
              dF.select(spec.joinCols.map(col): _*),
              sidesStaged.get._1.stats.keySet)
          else MergeTable.readForKeysAt(spark, dimzDir(dir),
            dv0, dF.select(spec.joinCols.map(col): _*))._1
        val dimForDF = sidesStaged.map(_._2.nz) match {
          case Some(nz) =>
            MergeTable.keyJoin(dimOldForDF, dD, dCols, "left_anti")
              .select(dimOldForDF.columns.map(col).toSeq: _*)
              .unionByName(nz.filter(col(Mult) =!= 0))
          case None => dimOldForDF
        }
        val j1 = dF.join(dimForDF, spec.joinCols)
          .withColumn("__jm", col("__d") * col(Mult))
        val dDKeys = dD.select(spec.joinCols.map(col): _*).distinct()
        val factOldForDD =
          (if (transfer)
            MergeTable.readForKeysPre(spark, factzDir(dir), fMeta, fv0,
              dDKeys, sidesStaged.get._2.stats.keySet)
          else MergeTable.readForKeysAt(spark, factzDir(dir),
            fv0, dDKeys)._1)
          .join(broadcast(dDKeys), spec.joinCols, "left_semi")
          .select(fCols.map(col) :+ col(Mult): _*)
        val j2 = factOldForDD.join(dD, spec.joinCols)
          .withColumn("__jm", col(Mult) * col("__d"))
        val deltas = hiddenDeltas(spec,
          j1.unionByName(j2, allowMissingColumns = true)).persist()
        try {
          // fold the signed deltas into the view (a z-set of sums —
          // groups whose count reaches 0 drop). Batch-sized write:
          // only the delta's groups change, so read their old hidden
          // rows, net, and upsert/delete exactly those groups
          // (MergeTable picks COW vs overlay).
          val tg = deltas.select(spec.groupCols.map(col): _*).distinct()
          // one stats collect for the view read AND its commit
          // decision (the folded frame's groups are exactly tg)
          val vStats = MergeTable.bucketStats(spark, vd0, tg)
          val vBase = MergeTable.latestVersion(spark, vd0)
          // scattered group churn commits as an overlay — prune the
          // view read to the touched groups' first-column candidates
          val vPrune =
            if (MergeTable.commitBypassesCow(spark, vd0, vStats))
              MergeTable.pruneVals(spark, MergeTable.readMeta(spark, vd0),
                tg)
            else None
          val vOld = MergeTable.readBucketsAt(spark, vd0,
              vBase, vStats.keySet, vPrune)
            .join(broadcast(tg), spec.groupCols, "left_semi")
          val folded = vOld.select(hCols.map(col): _*)
            .unionByName(deltas.select(hCols.map(col): _*))
            .groupBy(spec.groupCols.map(col): _*)
            .agg(sum(col("__cnt")).cast(LongType).as("__cnt"),
              spec.sumCols.flatMap(c => Seq(
                sum(col(s"__sum_$c")).as(s"__sum_$c"),
                sum(col(s"__cntnn_$c")).cast(LongType)
                  .as(s"__cntnn_$c"))): _*)
            .persist()
          try {
            // the count also MATERIALIZES folded, so the view commit
            // below reads the cache, never the (by then stale-able)
            // derivation
            val neg = folded.filter(col("__cnt") < 0).count()
            require(neg == 0,
              s"$neg view groups would go NEGATIVE — inconsistent " +
                "change stream (nothing was committed to the view)")
            // registered HERE (not by the caller) so a side-commit
            // failure racing a successful staging still unpersists it
            // via the outer finally; only this one staging leg touches
            // handles during par3, and Await publishes the mutation
            handles += folded
            (folded, vStats, vBase)
          } catch {
            case e: Throwable =>
              folded.unpersist(blocking = false); throw e
          }
        } finally deltas.unpersist(blocking = false)
      }
      // 1+2: commit both side z-sets, STAGED-THEN-COMMITTED. Staging
      // (read + net + negativity rejection) is read-only and runs for
      // BOTH sides before EITHER commits, so any rejected batch is a
      // clean abort regardless of which side is inconsistent. The two
      // sides touch disjoint state (factz/ vs dimz/ — separate claim
      // keys, separate data paths), so both the stages and the commits
      // run CONCURRENTLY (the latency floor is per-job scheduler cost,
      // BENCH_NOTES_r12 §1) — and the VIEW STAGING runs as a third
      // concurrent leg beside the commits (it reads only pre-commit
      // side versions and the view table, which the side commits never
      // write). A CRASH anywhere in the window can leave either side
      // landed — the INFLIGHT recovery and the stream wrapper handle
      // both one-sided states symmetrically, exactly as before; the
      // view itself commits strictly AFTER both sides landed.
      var stagedV: Option[(DataFrame, Map[Int, Long], Int)] = None
      if (foldFact && foldDim) {
        var nzF: Option[StagedFold] = None
        var nzD: Option[StagedFold] = None
        try {
          Par.par2(
            "fact z-set stage",
            { nzF = Some(stageFold(spark, factzDir(dir), "fact z-set",
                fCols, dF, nullCols(fCols))) },
            "dim z-set stage",
            { nzD = Some(stageFold(spark, dimzDir(dir), "dim z-set",
                dCols, dD, nullCols(dCols))) })
          Par.par3(
            "fact z-set commit",
            commitFold(spark, factzDir(dir), fCols, nzF.get),
            "dim z-set commit",
            commitFold(spark, dimzDir(dir), dCols, nzD.get),
            "view stage",
            { stagedV = Some(stageView(Some((nzF.get, nzD.get)))) })
        } finally {
          nzF.foreach(_.release())
          nzD.foreach(_.release())
        }
      } else {
        if (foldFact) foldSide(spark, factzDir(dir), "fact z-set", fCols,
          dF, nullCols(fCols))
        if (foldDim) foldSide(spark, dimzDir(dir), "dim z-set", dCols,
          dD, nullCols(dCols))
        stagedV = Some(stageView(None))
      }
      val fvN = MergeTable.latestVersion(spark, factzDir(dir))
      val dvN = MergeTable.latestVersion(spark, dimzDir(dir))
      // 3: commit the staged view fold — strictly after BOTH side
      // commits succeeded (Par.par3 rethrows any leg's failure), so
      // the view can never reflect versions that did not land.
      val (folded, vStats, vBase) = stagedV.get
      val vv = MergeTable.mergeResolved(spark, vd0,
        folded.filter(col("__cnt") =!= 0),
        folded.filter(col("__cnt") === 0)
          .select(spec.groupCols.map(col): _*),
        preStats = Some(vStats), preVersion = Some(vBase))
      syncMarker(spark, dir, fvN, dvN)
      fsys.delete(inflight, false)
      (fvN, dvN, vv)
    } catch {
      case e: Throwable => abortCleanIfNothingLanded(); throw e
    } finally handles.foreach(_.unpersist(blocking = false))
  }

  /** Recompute EVERY group from the two side z-sets — the crash-repair
    * path: an O(state) bucket-co-located join (both z-sets share the
    * join-col bucketing), never a base-table access. */
  def rebuildView(spark: SparkSession, dir: String): Int = {
    val spec = readSpec(spark, dir)
    val f = MergeTable.read(spark, factzDir(dir))
    val d = MergeTable.read(spark, dimzDir(dir))
    val j = f.withColumnRenamed(Mult, "__fm")
      .join(d.withColumnRenamed(Mult, "__dm"), spec.joinCols)
      .withColumn("__jm", col("__fm") * col("__dm"))
    val recomputed = hiddenDeltas(spec, j).persist()
    val touch = MergeTable.read(spark, viewDir(dir))
      .select(spec.groupCols.map(col): _*)
      .unionByName(recomputed.select(spec.groupCols.map(col): _*))
      .distinct()
    val vv = MergeTable.mergeCompute(spark, viewDir(dir), touch)(_ =>
      recomputed.filter(col("__cnt") =!= 0))
    recomputed.unpersist(blocking = false)
    // rebuild IS "consistent with the current z-sets" by definition
    syncMarker(spark, dir,
      MergeTable.latestVersion(spark, factzDir(dir)),
      MergeTable.latestVersion(spark, dimzDir(dir)))
    fs(spark, dir).delete(new Path(dir, "INFLIGHT"), false)
    vv
  }

  /** The maintained view: group columns + the requested aggregates,
    * projected from the hidden sums (Avg = Σx·m / Σm over non-null x,
    * null when the group has no non-null x — SQL semantics). */
  def readView(spark: SparkSession, dir: String): DataFrame = {
    val spec = readSpec(spark, dir)
    val outs: Seq[Column] = spec.aggs.map {
      case Ivm.Count(o)  => col("__cnt").as(o)
      case Ivm.Sum(c, o) => col(s"__sum_$c").as(o)
      case Ivm.Avg(c, o) =>
        (col(s"__sum_$c").cast(DoubleType) /
          when(col(s"__cntnn_$c") === 0, lit(null))
            .otherwise(col(s"__cntnn_$c"))).as(o)
      case a => throw new IllegalArgumentException(s"unreachable: $a")
    }
    MergeTable.read(spark, viewDir(dir))
      .select(spec.groupCols.map(col) ++ outs: _*)
  }

  def gc(spark: SparkSession, dir: String, retainLast: Int): Unit = {
    MergeTable.gc(spark, factzDir(dir), retainLast)
    MergeTable.gc(spark, dimzDir(dir), retainLast)
    MergeTable.gc(spark, viewDir(dir), retainLast)
  }

  // ---- streaming-wrapper support (the shared maintained-family
  // contract: batch↔version pairing, pinned read-only re-emit) ----

  /** Current (factz, dimz) versions — each [[applyDelta]] advances
    * BOTH by exactly one (quiet sides still fold), so stream wrappers
    * pair batch ids to both with one offset. */
  def latestVersions(spark: SparkSession, dir: String): (Int, Int) =
    (MergeTable.latestVersion(spark, factzDir(dir)),
      MergeTable.latestVersion(spark, dimzDir(dir)))

  /** True when the view lags its z-sets (crash between the inner
    * commits) — [[rebuildView]] repairs. */
  def viewStale(spark: SparkSession, dir: String): Boolean =
    readSync(spark, dir) != latestVersions(spark, dir)

  /** True when an interrupted refresh's INFLIGHT marker is behind —
    * [[rebuildView]] clears it. */
  def inflight(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir, "INFLIGHT"))

  /** The (fact, dim) z-set column lists — the projections CDC batch
    * frames must carry (join cols + the side's own group/value cols). */
  def sideCols(spark: SparkSession, dir: String): (Seq[String], Seq[String]) = {
    val f = MergeTable.readMeta(spark, factzDir(dir))
      .schema.fieldNames.toSeq.filterNot(_ == Mult)
    val d = MergeTable.readMeta(spark, dimzDir(dir))
      .schema.fieldNames.toSeq.filterNot(_ == Mult)
    (f, d)
  }

  /** Read-only re-emit of one batch's refreshed view rows against the
    * PINNED post-batch z-set versions — the streaming redelivery path.
    * The batch's touched groups are recomputed from the same bilinear
    * delta formula the refresh ran (ΔF ⋈ D′@dimVersion plus
    * (F′@factVersion − ΔF) ⋈ ΔD — every read bucket-pruned and
    * version-pinned, so the set is identical on every replay), and the
    * view's CURRENT rows for those groups are returned (live groups
    * only — a group whose rows all died is absent, exactly as the
    * original refresh emitted). Requires VIEWSYNC == the pinned
    * versions, i.e. the view reflects exactly this batch — the
    * single-writer streaming contract. */
  def groupsAt(spark: SparkSession, dir: String, factVersion: Int,
               dimVersion: Int,
               factInserts: DataFrame, factDeletes: DataFrame,
               dimInserts: DataFrame, dimDeletes: DataFrame): DataFrame = {
    val spec = readSpec(spark, dir)
    require(readSync(spark, dir) == ((factVersion, dimVersion)),
      s"view at $dir does not reflect z-set versions " +
        s"($factVersion, $dimVersion) — run JoinIvm.rebuildView first")
    val fMeta = MergeTable.readMeta(spark, factzDir(dir))
    val dMeta = MergeTable.readMeta(spark, dimzDir(dir))
    val fCols = fMeta.schema.fieldNames.toSeq.filterNot(_ == Mult)
    val dCols = dMeta.schema.fieldNames.toSeq.filterNot(_ == Mult)
    def zdelta(ins: DataFrame, del: DataFrame, cols: Seq[String],
               schema: StructType): DataFrame = {
      def proj(df: DataFrame, sign: Int): DataFrame =
        df.select(cols.map(c =>
          col(c).cast(schema(c).dataType).as(c)) :+
          lit(sign.toLong).as("__d"): _*)
      proj(ins, 1).unionByName(proj(del, -1))
        .groupBy(cols.map(col): _*).agg(sum(col("__d")).as("__d"))
    }
    val dF = zdelta(factInserts, factDeletes, fCols, fMeta.schema).persist()
    try {
      val dD = zdelta(dimInserts, dimDeletes, dCols, dMeta.schema)
      val dimForDF = MergeTable.readForKeysAt(spark, dimzDir(dir),
        dimVersion, dF.select(spec.joinCols.map(col): _*))._1
      val g1 = dF.join(dimForDF, spec.joinCols)
        .select(spec.groupCols.map(col): _*)
      val dDKeys = dD.select(spec.joinCols.map(col): _*).distinct()
      val factNewForDD = MergeTable.readForKeysAt(spark, factzDir(dir),
        factVersion, dDKeys)._1
        .join(broadcast(dDKeys), spec.joinCols, "left_semi")
        .select(fCols.map(col) :+ col(Mult): _*)
      val factDeltaForDD = dF
        .join(broadcast(dDKeys), spec.joinCols, "left_semi")
        .select(fCols.map(col) :+ (-col("__d")).as(Mult): _*)
      val factOldForDD = factNewForDD.unionByName(factDeltaForDD)
        .groupBy(fCols.map(col): _*).agg(sum(col(Mult)).as(Mult))
        .filter(col(Mult) =!= 0)
      val g2 = factOldForDD.join(dD, spec.joinCols)
        .select(spec.groupCols.map(col): _*)
      val tg = g1.unionByName(g2).distinct()
      readView(spark, dir)
        .join(broadcast(tg), spec.groupCols, "left_semi")
    } finally dF.unpersist(blocking = false)
  }

  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir, "SPEC")) &&
      MergeTable.exists(spark, factzDir(dir))
}
