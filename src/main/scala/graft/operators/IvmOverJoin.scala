package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incrementally-maintained join view with the FULL aggregate set —
 * min / max / count-distinct included — kept exact under CDC on both
 * sides. [[JoinIvm]] maintains Count/Sum/Avg without any joined state
 * (they are invertible, so the view folds signed deltas directly);
 * min/max/count-distinct are NOT invertible from the aggregate alone —
 * a retraction of the current minimum needs the runner-up, which only
 * the joined multiset knows. This operator is the documented
 * composition for exactly that case: maintain the joined PROJECTION
 * π(G, V) of F ⋈ D itself as a counting z-set (the minimal state that
 * makes the recompute group-local), and run [[Ivm]]'s group-local
 * recompute over it.
 *
 * Technique: the same bilinear delta [[JoinIvm]] uses,
 *
 *   Δ(F ⋈ D) = ΔF ⋈ D′  +  F ⋈ ΔD      (multiplicities multiply)
 *
 * but instead of folding the per-group HIDDEN SUMS, the joined delta
 * is projected onto (G, V) with its signed multiplicities and fed to
 * [[Ivm.applyZDelta]] — the inner Ivm's z-set IS π(G, V) of the join,
 * and its refresh recomputes exactly the touched groups' aggregates
 * from that state (min/max/distinct over rows with mult > 0 — exact
 * under retraction by construction).
 *
 * State: the two side projections (as in [[JoinIvm]]) PLUS
 * O(distinct (G, V) of the join) — strictly smaller than |F ⋈ D|
 * whenever values repeat, and the unavoidable price of non-invertible
 * aggregates (DBSP, Budiu et al. VLDB'23 §6 makes the same split:
 * linear operators stream, non-linear ones keep their support).
 *
 * Layout under `dir/`: `factz/`, `dimz/` (side z-sets bucketed by the
 * join cols), `ivm/` (a complete inner [[Ivm]]: joined z-set bucketed
 * by GROUP + materialized view), `SPEC`, `SYNC` (the side versions +
 * inner z-set version the view reflects), `INFLIGHT`. The commits are
 * sequential (fact → dim → inner z-set → inner view); any crash
 * between them refuses further deltas until [[rebuild]] — an O(state)
 * bucket-co-located recompute of π(G, V) from the side z-sets, never
 * a base-table access — restores consistency. Writer exclusion,
 * atomic versions, pinned reads and gc come from [[MergeTable]] /
 * [[VersionedLayout]].
 *
 * (The reference has no maintained-view surface at all; its pipelines
 * re-cogroup whole inputs per run — /root/reference/cogroup.go.)
 */
object IvmOverJoin {

  /** View definition — same shape rules as [[JoinIvm.Spec]] (join
    * cols in BOTH input schemas, every group/value col in exactly
    * one), but every [[Ivm.Agg]] is allowed. */
  final case class Spec(joinCols: Seq[String], groupCols: Seq[String],
                        aggs: Seq[Ivm.Agg]) {
    require(joinCols.nonEmpty, "at least one join column")
    /** The inner Ivm spec (validates group/agg constraints). */
    val inner: Ivm.Spec = Ivm.Spec(groupCols, aggs)
    require(joinCols.intersect(groupCols ++ inner.valueCols).isEmpty,
      "join columns cannot also be group/aggregate columns — project " +
        "the key to a differently-named column upstream")
    def valueCols: Seq[String] = inner.valueCols
  }

  private val Mult = "__mult"

  import VersionedLayout.{atomicWrite, fs, readSmall}

  private def factzDir(dir: String) = s"${dir.stripSuffix("/")}/factz"
  private def dimzDir(dir: String) = s"${dir.stripSuffix("/")}/dimz"
  private def ivmDir(dir: String) = s"${dir.stripSuffix("/")}/ivm"

  private def writeSpec(spark: SparkSession, dir: String, s: Spec): Unit = {
    val cols = s.joinCols ++ s.groupCols ++ s.valueCols
    require(cols.forall(c => !c.contains(",") && !c.contains("\t")),
      "column names must not contain ',' or tab (SPEC format)")
    val lines = Seq(s"join\t${s.joinCols.mkString(",")}",
      s"group\t${s.groupCols.mkString(",")}") ++
      s.aggs.map {
        case Ivm.Count(o)            => s"agg\tcount\t\t$o"
        case Ivm.Sum(c, o)           => s"agg\tsum\t$c\t$o"
        case Ivm.Avg(c, o)           => s"agg\tavg\t$c\t$o"
        case Ivm.Min(c, o)           => s"agg\tmin\t$c\t$o"
        case Ivm.Max(c, o)           => s"agg\tmax\t$c\t$o"
        case Ivm.CountDistinct(c, o) => s"agg\tcountd\t$c\t$o"
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
        case ("count", _, o)  => Ivm.Count(o)
        case ("sum", c, o)    => Ivm.Sum(c, o)
        case ("avg", c, o)    => Ivm.Avg(c, o)
        case ("min", c, o)    => Ivm.Min(c, o)
        case ("max", c, o)    => Ivm.Max(c, o)
        case ("countd", c, o) => Ivm.CountDistinct(c, o)
        case (k, _, _) => throw new IllegalArgumentException(s"bad agg $k")
      }
    }
    Spec(join, group, aggs)
  }

  /** Create the empty maintained view. Side projections are inferred:
    * each side's z-set carries the join cols plus the group/value cols
    * found in ITS schema; the inner Ivm's input schema is the joined
    * (G, V) projection. */
  def create(spark: SparkSession, dir: String, factSchema: StructType,
             dimSchema: StructType, spec: Spec, nBuckets: Int = 64): Unit = {
    spec.joinCols.foreach(c => require(
      factSchema.fieldNames.contains(c) && dimSchema.fieldNames.contains(c),
      s"join column $c must exist in BOTH schemas (rename upstream)"))
    (spec.groupCols ++ spec.valueCols).foreach { c =>
      val inF = factSchema.fieldNames.contains(c)
      val inD = dimSchema.fieldNames.contains(c)
      require(inF ^ inD,
        s"column $c must exist in exactly one side's schema " +
          s"(fact: $inF, dim: $inD)")
    }
    writeSpec(spark, dir, spec)
    def zSchema(side: StructType): StructType = {
      val own = (spec.groupCols ++ spec.valueCols)
        .filter(side.fieldNames.contains).distinct
      StructType((spec.joinCols ++ own).map(c => side(c)) :+
        StructField(Mult, org.apache.spark.sql.types.LongType))
    }
    MergeTable.create(spark, factzDir(dir), zSchema(factSchema),
      keyCols = zSchema(factSchema).fieldNames.toSeq.filterNot(_ == Mult),
      bucketCols = spec.joinCols, nBuckets = nBuckets)
    MergeTable.create(spark, dimzDir(dir), zSchema(dimSchema),
      keyCols = zSchema(dimSchema).fieldNames.toSeq.filterNot(_ == Mult),
      bucketCols = spec.joinCols, nBuckets = nBuckets)
    def typeOf(c: String) =
      if (factSchema.fieldNames.contains(c)) factSchema(c)
      else dimSchema(c)
    Ivm.create(spark, ivmDir(dir),
      StructType((spec.groupCols ++ spec.valueCols).map(typeOf)),
      spec.inner, nBuckets = nBuckets)
    syncMarker(spark, dir, 1, 1, 1)
  }

  private def syncMarker(spark: SparkSession, dir: String, fv: Int,
                         dv: Int, zv: Int): Unit =
    atomicWrite(fs(spark, dir), new Path(dir, "SYNC"), s"$fv $dv $zv")

  private def readSync(spark: SparkSession, dir: String): (Int, Int, Int) = {
    val p = readSmall(fs(spark, dir), new Path(dir, "SYNC")).split(" ")
    (p(0).toInt, p(1).toInt, p(2).toInt)
  }

  /**
   * Apply one two-sided CDC batch (deletes carry BEFORE-IMAGES; any
   * frame may be empty). Commits factz, dimz, then the inner Ivm
   * (z-set + view), in O(batch + touched join-key buckets + touched
   * groups' z-set mass). Returns (factzVersion, dimzVersion,
   * innerZsetVersion).
   *
   * Crash recovery: the commits are sequential; an INFLIGHT marker
   * brackets them. If a crash leaves it behind, the next applyDelta
   * refuses: run [[rebuild]] (which recomputes the joined z-set from
   * whatever side state landed and clears the marker), then re-submit
   * ONLY the side(s) whose z-set version did not advance — an
   * applyDelta with the landed side's frames empty (its effect is
   * already in the rebuilt state; the bilinear formula with that
   * side's delta zero applies exactly the remaining term).
   */
  def applyDelta(spark: SparkSession, dir: String,
                 factInserts: DataFrame, factDeletes: DataFrame,
                 dimInserts: DataFrame, dimDeletes: DataFrame)
      : (Int, Int, Int) =
    applyDeltaFolding(spark, dir, factInserts, factDeletes, dimInserts,
      dimDeletes, foldFact = true, foldDim = true)

  /** [[applyDelta]] with per-side fold control — the RESUME primitive
    * after a crash between the side commits, to be called only after
    * [[rebuild]] restored consistency: a side with fold = false
    * already absorbed this batch (its z-set version does not advance
    * again) and its delta is ZEROED in the joined-delta math, exactly
    * as in [[JoinIvm.applyDeltaFolding]]. */
  private[graft] def applyDeltaFolding(spark: SparkSession, dir: String,
                 factInserts: DataFrame, factDeletes: DataFrame,
                 dimInserts: DataFrame, dimDeletes: DataFrame,
                 foldFact: Boolean, foldDim: Boolean)
      : (Int, Int, Int) = {
    val spec = readSpec(spark, dir)
    val fv0 = MergeTable.latestVersion(spark, factzDir(dir))
    val dv0 = MergeTable.latestVersion(spark, dimzDir(dir))
    val zv0 = Ivm.latestVersion(spark, ivmDir(dir))
    val fsys = fs(spark, dir)
    val inflight = new Path(dir, "INFLIGHT")
    require(!fsys.exists(inflight), {
      val rec = readSmall(fsys, inflight)
      s"view at $dir has an interrupted refresh (INFLIGHT pre-versions " +
        s"$rec; state now at $fv0 $dv0 $zv0 — a side that advanced past " +
        "its recorded pre-version already absorbed the batch): run " +
        "IvmOverJoin.rebuild, then re-submit only the side(s) that did " +
        "not land"
    })
    require(readSync(spark, dir) == ((fv0, dv0, zv0)),
      s"view at $dir is behind its side z-sets (crash between " +
        "commits?) — run IvmOverJoin.rebuild first")
    atomicWrite(fsys, inflight, s"$fv0 $dv0 $zv0")
    def abortCleanIfNothingLanded(): Unit =
      if (MergeTable.latestVersion(spark, factzDir(dir)) == fv0 &&
          MergeTable.latestVersion(spark, dimzDir(dir)) == dv0 &&
          Ivm.latestVersion(spark, ivmDir(dir)) == zv0)
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
    // a landed (fold = false) side contributes a ZERO delta
    val dF =
      if (foldFact) zdelta(factInserts, factDeletes, fCols, fMeta.schema)
      else zdelta(factInserts.limit(0), factDeletes.limit(0), fCols,
        fMeta.schema)
    val dD =
      if (foldDim) zdelta(dimInserts, dimDeletes, dCols, dMeta.schema)
      else zdelta(dimInserts.limit(0), dimDeletes.limit(0), dCols,
        dMeta.schema)
    // NULL join/group rejection is FUSED into each side's staging
    // validation action (stageFold's nullCheckCols — one job per side
    // instead of two extra serial driver jobs per refresh), still
    // strictly before any commit; [[JoinIvm.applyDeltaFolding]] has
    // the same shape.
    def nullCols(sideCols: Seq[String]): Seq[String] =
      (spec.joinCols ++ spec.groupCols).filter(sideCols.contains)
    try {
      // ---- inner-Ivm staging (READ-ONLY, runs concurrently with the
      // side commits below). Δ(F⋈D) = ΔF ⋈ D′ + F ⋈ ΔD with both
      // terms derived from PRE-COMMIT state + the staged folds — the
      // same r15 derivation as [[JoinIvm.applyDeltaFolding]]:
      //   D′ on ΔF's keys = (D@dv0 minus ΔD's tuples, null-safe)
      //                     ∪ (staged dim fold's new state, mult ≠ 0);
      //   F  on ΔD's keys = F@fv0 directly (was F′ − ΔF re-aggregated).
      // The joined delta is projected onto (G, V) with its signed
      // multiplicities and STAGED into the inner Ivm
      // ([[Ivm.stageZDelta]] — nets, validates, pre-computes the two
      // commit frames; nothing written). `sidesStaged` is None on the
      // one-sided RESUME paths, where either ΔD or ΔF is empty and
      // the pre-commit reads stay exact (see JoinIvm).
      def stageInner(sidesStaged: Option[(JoinIvm.StagedFold,
          JoinIvm.StagedFold)]): Ivm.StagedZ = {
        // stats transfer ([[JoinIvm.statsTransfer]]): saves the two
        // touched-bucket collect jobs per staging
        val transfer = sidesStaged.isDefined &&
          JoinIvm.statsTransfer(fMeta, dMeta, spec.joinCols)
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
        val gv = spec.groupCols ++ spec.valueCols
        val signed = j1.unionByName(j2, allowMissingColumns = true)
          .select(gv.map(col) :+ col("__jm").as("__d"): _*)
        Ivm.stageZDelta(spark, ivmDir(dir), signed)
      }
      // STAGE both side folds read-only (negativity rejection before
      // ANY commit — a rejected batch is a clean abort on either
      // side), then commit both concurrently WITH the inner-Ivm
      // staging as a third leg (it reads only pre-commit side versions
      // and the inner tables, which the side commits never write); the
      // inner COMMIT itself stays strictly after both side commits
      // landed, so the composite ordering contract is unchanged. A
      // CRASH in the window can leave either side landed; [[rebuild]]
      // + a one-sided re-submit recover symmetrically.
      var stagedZ: Option[Ivm.StagedZ] = None
      try {
        if (foldFact && foldDim) {
          var nzF: Option[JoinIvm.StagedFold] = None
          var nzD: Option[JoinIvm.StagedFold] = None
          try {
            Par.par2(
              "fact z-set stage",
              { nzF = Some(JoinIvm.stageFold(spark, factzDir(dir),
                  "fact z-set", fCols, dF, nullCols(fCols))) },
              "dim z-set stage",
              { nzD = Some(JoinIvm.stageFold(spark, dimzDir(dir),
                  "dim z-set", dCols, dD, nullCols(dCols))) })
            Par.par3(
              "fact z-set commit",
              JoinIvm.commitFold(spark, factzDir(dir), fCols, nzF.get),
              "dim z-set commit",
              JoinIvm.commitFold(spark, dimzDir(dir), dCols, nzD.get),
              "inner view stage",
              { stagedZ = Some(stageInner(Some((nzF.get, nzD.get)))) })
          } finally {
            nzF.foreach(_.release())
            nzD.foreach(_.release())
          }
        } else {
          if (foldFact)
            JoinIvm.foldSide(spark, factzDir(dir), "fact z-set", fCols, dF,
              nullCols(fCols))
          if (foldDim)
            JoinIvm.foldSide(spark, dimzDir(dir), "dim z-set", dCols, dD,
              nullCols(dCols))
          stagedZ = Some(stageInner(None))
        }
        val fvN = MergeTable.latestVersion(spark, factzDir(dir))
        val dvN = MergeTable.latestVersion(spark, dimzDir(dir))
        val (zv, _) = Ivm.commitZDelta(spark, ivmDir(dir), stagedZ.get)
        syncMarker(spark, dir, fvN, dvN, zv)
        fsys.delete(inflight, false)
        (fvN, dvN, zv)
      } finally stagedZ.foreach(_.release())
    } catch {
      case e: Throwable => abortCleanIfNothingLanded(); throw e
    } finally {
      dF.unpersist(blocking = false)
      dD.unpersist(blocking = false)
    }
  }

  /** Recompute the joined z-set π(G, V) from the two side z-sets (a
    * bucket-co-located join — both are bucketed by the join cols) and
    * rebuild the inner view from it — the crash-repair path, O(state),
    * never a base-table access. Clears the INFLIGHT marker. */
  def rebuild(spark: SparkSession, dir: String): Int = {
    val spec = readSpec(spark, dir)
    val f = MergeTable.read(spark, factzDir(dir))
    val d = MergeTable.read(spark, dimzDir(dir))
    val gv = spec.groupCols ++ spec.valueCols
    val z = f.withColumnRenamed(Mult, "__fm")
      .join(d.withColumnRenamed(Mult, "__dm"), spec.joinCols)
      .withColumn(Mult, col("__fm") * col("__dm"))
      .groupBy(gv.map(col): _*).agg(sum(col(Mult)).as(Mult))
      .filter(col(Mult) =!= 0)
      .persist()
    try {
      Ivm.replaceZset(spark, ivmDir(dir), z)
      val zv = Ivm.rebuildView(spark, ivmDir(dir))
      syncMarker(spark, dir,
        MergeTable.latestVersion(spark, factzDir(dir)),
        MergeTable.latestVersion(spark, dimzDir(dir)),
        Ivm.latestVersion(spark, ivmDir(dir)))
      fs(spark, dir).delete(new Path(dir, "INFLIGHT"), false)
      zv
    } finally z.unpersist(blocking = false)
  }

  /** The maintained view: one row per live group with ALL requested
    * aggregates (min/max/count-distinct exact under retraction — they
    * recompute group-locally from the joined z-set). */
  def readView(spark: SparkSession, dir: String): DataFrame =
    Ivm.readView(spark, ivmDir(dir))

  /** The joined-projection counting z-set (audits). */
  def readZset(spark: SparkSession, dir: String): DataFrame =
    Ivm.readZset(spark, ivmDir(dir))

  def latestVersions(spark: SparkSession, dir: String): (Int, Int, Int) =
    (MergeTable.latestVersion(spark, factzDir(dir)),
      MergeTable.latestVersion(spark, dimzDir(dir)),
      Ivm.latestVersion(spark, ivmDir(dir)))

  // ---- streaming-wrapper support (the shared maintained-family
  // contract: batch↔version pairing on the SIDE versions, pinned
  // read-only re-emit, self-healing replay) ----

  /** True when the composite state lags (crash between the sequential
    * commits) — [[heal]] / [[rebuild]] repair. */
  def viewStale(spark: SparkSession, dir: String): Boolean =
    readSync(spark, dir) != latestVersions(spark, dir)

  /** True when an interrupted refresh's INFLIGHT marker is behind. */
  def inflight(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir, "INFLIGHT"))

  /** The (fact, dim) z-set column lists — the projections CDC batch
    * frames must carry. */
  def sideCols(spark: SparkSession, dir: String): (Seq[String], Seq[String]) = {
    val f = MergeTable.readMeta(spark, factzDir(dir))
      .schema.fieldNames.toSeq.filterNot(_ == Mult)
    val d = MergeTable.readMeta(spark, dimzDir(dir))
      .schema.fieldNames.toSeq.filterNot(_ == Mult)
    (f, d)
  }

  /** Repair a view whose BOTH side z-sets already reflect the batch
    * (the replay path with side versions at their expected values) but
    * whose inner Ivm / SYNC / INFLIGHT may lag from a crash inside the
    * tail of the refresh. Three sub-states, told apart by the INFLIGHT
    * marker's recorded pre-batch inner version:
    *   - inner z-set still AT the recorded pre-version → the joined
    *     delta never landed: full [[rebuild]] (recomputes π(G, V) from
    *     the sides — exactly the post-batch state);
    *   - inner z-set advanced but its view lags (crash between the
    *     inner Ivm's two commits) → [[Ivm.rebuildView]] + sync;
    *   - everything landed, only SYNC / the marker delete remain →
    *     finish the bookkeeping.
    * No-op when nothing lags. */
  def heal(spark: SparkSession, dir: String): Unit = {
    val fsys = fs(spark, dir)
    val marker = new Path(dir, "INFLIGHT")
    if (fsys.exists(marker)) {
      val zv0 = readSmall(fsys, marker).split(" ")(2).toInt
      if (Ivm.latestVersion(spark, ivmDir(dir)) == zv0) {
        rebuild(spark, dir)
        return
      }
      if (Ivm.viewStale(spark, ivmDir(dir)))
        Ivm.rebuildView(spark, ivmDir(dir))
      val (fv, dv, zv) = latestVersions(spark, dir)
      syncMarker(spark, dir, fv, dv, zv)
      fsys.delete(marker, false)
    } else if (viewStale(spark, dir)) {
      // no marker to tell the sub-state apart — the conservative
      // repair is the full rebuild (idempotent, O(state))
      rebuild(spark, dir)
    }
  }

  /** Read-only re-emit of one batch's refreshed view rows against the
    * PINNED post-batch side versions — the streaming redelivery path.
    * The batch's touched groups are recomputed from the same bilinear
    * delta formula the refresh ran (every read bucket-pruned and
    * version-pinned, so the set is identical on every replay) and the
    * view's rows for those groups are returned via [[Ivm.groupsAt]]
    * at the inner z-set version SYNC records (live groups only).
    * Requires SYNC to reflect exactly (factVersion, dimVersion) — the
    * single-writer streaming contract; run [[heal]] first on replay. */
  def groupsAt(spark: SparkSession, dir: String, factVersion: Int,
               dimVersion: Int,
               factInserts: DataFrame, factDeletes: DataFrame,
               dimInserts: DataFrame, dimDeletes: DataFrame): DataFrame = {
    val spec = readSpec(spark, dir)
    val (sf, sd, szv) = readSync(spark, dir)
    require((sf, sd) == ((factVersion, dimVersion)),
      s"view at $dir does not reflect side versions " +
        s"($factVersion, $dimVersion) — run IvmOverJoin.heal first")
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
      Ivm.groupsAt(spark, ivmDir(dir), szv, tg)
    } finally dF.unpersist(blocking = false)
  }

  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir, "SPEC")) &&
      MergeTable.exists(spark, factzDir(dir))

  def gc(spark: SparkSession, dir: String, retainLast: Int): Unit = {
    MergeTable.gc(spark, factzDir(dir), retainLast)
    MergeTable.gc(spark, dimzDir(dir), retainLast)
    Ivm.gc(spark, ivmDir(dir), retainLast)
  }
}
