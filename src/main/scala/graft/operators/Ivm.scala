package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental view maintenance: a persisted `GROUP BY` whose refresh
 * cost is O(change batch + touched groups), never O(corpus). The
 * missing piece between the index families' O(batch) ingest and a
 * pipeline's reporting layer — without it, every "tokens per language
 * after today's crawl" query re-aggregates 100 TB; with it, the view
 * absorbs the same CDC batches the indexes do and stays exact.
 *
 * Technique: counting IVM over a Z-SET (a multiset with signed
 * multiplicities — the classic delta-processing formalism; see the
 * DBSP paper, Budiu et al., VLDB'23, and the counting algorithm of
 * Gupta/Mumick/Subrahmanian, SIGMOD'93). State is two [[MergeTable]]s
 * under one directory:
 *
 *   - `zset/`: one row per DISTINCT (group, value-tuple) with its live
 *     multiplicity `__mult` — the projection π(G, V) of the base table
 *     as a counting multiset. Keyed by (G, V), BUCKETED BY G, so a
 *     group's entire state is co-located in one bucket and a refresh
 *     touching g reads only g's bucket.
 *   - `view/`: one row per group with the materialized aggregates,
 *     keyed and bucketed by G.
 *
 * Per refresh (inserts + deletes, deletes carrying BEFORE-IMAGES — the
 * standard CDC contract; an update is delete(old) + insert(new)):
 *   1. delta = Σ signed multiplicities per (G, V) — one batch-sized
 *      shuffle;
 *   2. zset fold: touched buckets' rows ∪ delta → new multiplicities,
 *      zero rows drop, negative rows REJECT the commit (a delete of a
 *      row never inserted means the change stream is inconsistent —
 *      failing loudly beats silently wrong aggregates forever after);
 *   3. touched groups recompute their aggregate row FROM THE NEW Z-SET
 *      (count = Σ mult, sum = Σ x·mult, min/max/count-distinct over
 *      rows with mult > 0 — all EXACT under deletes, which is the
 *      point: min/max/distinct are not invertible from the aggregate
 *      alone, but they are trivially recomputable from the group's
 *      z-set, and the z-set is exactly the minimal state that makes
 *      that recompute group-local);
 *   4. view merge replaces exactly the touched groups' rows.
 *
 * State size: O(distinct (G, V) combinations) ≤ base rows, and far
 * smaller whenever values repeat within a group. Refresh cost: the
 * batch shuffle + rewrite of the touched buckets + aggregation of the
 * touched groups' z-set mass. A heavy-hitter group with millions of
 * distinct values makes ITS refresh proportional to that mass —
 * counting IVM's standard bound; [[MergeTable.stats]] on `zset/`
 * surfaces such groups.
 *
 * Crash consistency: the two tables commit independently — and since
 * round 14 CONCURRENTLY (both derive from the same staged fold, write
 * disjoint tables, and each is one claim-guarded MergeTable commit;
 * running them in parallel removes one serial commit stage from every
 * refresh, including both of [[IvmOverJoin]]'s) — with a `VIEWSYNC`
 * marker recording the (zset, view) version PAIR the view reflects.
 * A crash anywhere in the commit window (z landed / view landed /
 * both landed, marker unwritten) leaves the marker mismatched against
 * at least one table's LATEST; [[applyDelta]] refuses to proceed and
 * [[rebuildView]] (an O(state) group-local recompute, no base-table
 * access) repairs every permutation. The pair is load-bearing: with
 * the old z-only marker a view that got AHEAD of its z-set (possible
 * only under concurrent commits) would have read as consistent.
 * Writer mutual exclusion, atomic versions, pinned-version reads and
 * gc are inherited from [[MergeTable]]/[[VersionedLayout]].
 *
 * (The reference has no materialized-view surface; its pipelines
 * re-reduce whole inputs per run — /root/reference/slice.go's Reduce
 * recomputes from scratch. This is the beyond-reference member that
 * makes the CDC/index machinery pay off downstream.)
 */
object Ivm {

  /** Aggregate specs. `out` is the view column name (and the name the
    * oracle must alias to). Avg is exact (maintained as Σx·m / Σm,
    * computed in double). Sum of an integral column is a LongType sum
    * (overflow semantics = Spark's); of a fractional column, double. */
  sealed trait Agg { def out: String; def in: Option[String] }
  final case class Count(out: String) extends Agg { def in = None }
  final case class Sum(col: String, out: String) extends Agg
  { def in = Some(col) }
  final case class Avg(col: String, out: String) extends Agg
  { def in = Some(col) }
  final case class Min(col: String, out: String) extends Agg
  { def in = Some(col) }
  final case class Max(col: String, out: String) extends Agg
  { def in = Some(col) }
  final case class CountDistinct(col: String, out: String) extends Agg
  { def in = Some(col) }

  final case class Spec(groupCols: Seq[String], aggs: Seq[Agg]) {
    require(groupCols.nonEmpty, "at least one group column")
    require(aggs.nonEmpty, "at least one aggregate")
    require(aggs.map(_.out).distinct.length == aggs.length,
      "aggregate output names must be unique")
    /** Distinct value columns the z-set must carry. */
    def valueCols: Seq[String] = aggs.flatMap(_.in).distinct
    // a column that is BOTH a group key and an aggregate input would be
    // duplicated in the z-set schema/keyCols (groupCols ++ valueCols)
    // and die only later with ambiguous-reference errors against
    // already-persisted state — aggregating a group key is also
    // pointless (it is constant within the group); reject at spec time
    require(groupCols.intersect(valueCols).isEmpty,
      s"column(s) ${groupCols.intersect(valueCols).mkString(",")} appear " +
        "in BOTH groupCols and an aggregate input — a group key is " +
        "constant within its group; aggregate a different column")
  }

  private val Mult = "__mult"

  import VersionedLayout.{atomicWrite, fs, readSmall}

  private def zsetDir(dir: String) = s"${dir.stripSuffix("/")}/zset"
  private def viewDir(dir: String) = s"${dir.stripSuffix("/")}/view"

  // ---- spec persistence (the view definition is part of the state;
  // a caller-supplied spec that drifted from it would corrupt silently)

  private def writeSpec(spark: SparkSession, dir: String, s: Spec): Unit = {
    val cols = s.groupCols ++ s.valueCols
    require(cols.forall(c => !c.contains(",") && !c.contains("\t")),
      "column names must not contain ',' or tab (SPEC format)")
    val lines = Seq(s"group\t${s.groupCols.mkString(",")}") ++
      s.aggs.map {
        case Count(o)           => s"agg\tcount\t\t$o"
        case Sum(c, o)          => s"agg\tsum\t$c\t$o"
        case Avg(c, o)          => s"agg\tavg\t$c\t$o"
        case Min(c, o)          => s"agg\tmin\t$c\t$o"
        case Max(c, o)          => s"agg\tmax\t$c\t$o"
        case CountDistinct(c, o) => s"agg\tcountd\t$c\t$o"
      }
    atomicWrite(fs(spark, dir), new Path(dir, "SPEC"), lines.mkString("\n"))
  }

  def readSpec(spark: SparkSession, dir: String): Spec = {
    val lines = readSmall(fs(spark, dir), new Path(dir, "SPEC")).split("\n")
    val group = lines.head.split("\t", 2)(1).split(",").toSeq
    val aggs = lines.tail.toSeq.map { l =>
      val p = l.split("\t", -1) // agg, kind, col, out
      (p(1), p(2), p(3)) match {
        case ("count", _, o)  => Count(o)
        case ("sum", c, o)    => Sum(c, o)
        case ("avg", c, o)    => Avg(c, o)
        case ("min", c, o)    => Min(c, o)
        case ("max", c, o)    => Max(c, o)
        case ("countd", c, o) => CountDistinct(c, o)
        case (k, _, _) => throw new IllegalArgumentException(s"bad agg $k")
      }
    }
    Spec(group, aggs)
  }

  private def sumType(t: DataType): DataType = t match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case _                                             => DoubleType
  }

  private def viewSchema(spec: Spec, input: StructType): StructType = {
    val g = spec.groupCols.map(c => input(c))
    val a = spec.aggs.map {
      case Count(o)            => StructField(o, LongType)
      case Sum(c, o)           => StructField(o, sumType(input(c).dataType))
      case Avg(_, o)           => StructField(o, DoubleType)
      case Min(c, o)           => StructField(o, input(c).dataType)
      case Max(c, o)           => StructField(o, input(c).dataType)
      case CountDistinct(_, o) => StructField(o, LongType)
    }
    StructType(g ++ a)
  }

  /** The aggregate expressions over z-set rows (one row per distinct
    * (G, V) with mult > 0) that reproduce the aggregates over the
    * base rows they stand for. */
  private def aggExprs(spec: Spec, input: StructType): Seq[Column] =
    spec.aggs.map {
      case Count(o)  => sum(col(Mult)).cast(LongType).as(o)
      case Sum(c, o) =>
        sum(col(c) * col(Mult)).cast(sumType(input(c).dataType)).as(o)
      case Avg(c, o) =>
        // SQL AVG semantics: the denominator counts only rows whose
        // value is non-null (an all-null group divides by 0 → null,
        // matching SQL); sum(m) would silently shift the average on
        // any corpus with null value columns. The zero denominator is
        // guarded explicitly (not left to non-ANSI x/0 → null) so the
        // refresh survives spark.sql.ansi.enabled=true — the same
        // guard [[JoinIvm.readView]] carries.
        val denom = sum(when(col(c).isNotNull, col(Mult)).otherwise(lit(0L)))
        (sum(col(c).cast(DoubleType) * col(Mult)) /
          when(denom === 0, lit(null)).otherwise(denom))
          .cast(DoubleType).as(o)
      case Min(c, o)           => min(col(c)).as(o)
      case Max(c, o)           => max(col(c)).as(o)
      case CountDistinct(c, o) => count_distinct(col(c)).cast(LongType).as(o)
    }

  /** Create an empty maintained view. `inputSchema` pins the types of
    * the group and value columns (the CDC batches must carry them). */
  def create(spark: SparkSession, dir: String, inputSchema: StructType,
             spec: Spec, nBuckets: Int = 64): Unit = {
    val cols = spec.groupCols ++ spec.valueCols
    cols.foreach(c => require(inputSchema.fieldNames.contains(c),
      s"column $c missing from the input schema"))
    writeSpec(spark, dir, spec)
    val zSchema = StructType(cols.map(c => inputSchema(c)) :+
      StructField(Mult, LongType))
    MergeTable.create(spark, zsetDir(dir), zSchema,
      keyCols = cols, bucketCols = spec.groupCols, nBuckets = nBuckets)
    MergeTable.create(spark, viewDir(dir), viewSchema(spec, inputSchema),
      keyCols = spec.groupCols, bucketCols = spec.groupCols,
      nBuckets = nBuckets)
    syncMarker(spark, dir, 1, 1)
  }

  /** VIEWSYNC records the (zset, view) version PAIR the last completed
    * refresh left behind — both sides are needed because the commits
    * run concurrently (see the class doc): a z-only marker cannot see
    * a view that landed while its z-set did not. */
  private def syncMarker(spark: SparkSession, dir: String, zv: Int,
                         vv: Int): Unit =
    atomicWrite(fs(spark, dir), new Path(dir, "VIEWSYNC"), s"$zv $vv")

  /** (zset version, view version) the marker records. Tolerates the
    * pre-round-14 single-version format by substituting the view's
    * current LATEST (those layouts committed z-first, so a view ahead
    * of its marker was impossible). */
  private def readSync(spark: SparkSession, dir: String): (Int, Int) = {
    val parts = readSmall(fs(spark, dir), new Path(dir, "VIEWSYNC"))
      .trim.split("\\s+")
    if (parts.length >= 2) (parts(0).toInt, parts(1).toInt)
    else (parts(0).toInt, MergeTable.latestVersion(spark, viewDir(dir)))
  }

  /**
   * Apply one CDC batch: `inserts` are new base rows, `deletes` are
   * removed base rows WITH VALUES (before-images). An update is
   * delete(old) + insert(new) in the same batch. Returns the committed
   * (zsetVersion, viewVersion). Rejects (without committing) a batch
   * that deletes rows never inserted. A net-zero batch still advances
   * both versions (the quiet-batch contract of the index families).
   */
  def applyDelta(spark: SparkSession, dir: String, inserts: DataFrame,
                 deletes: DataFrame): (Int, Int) = {
    val spec = readSpec(spark, dir)
    val cols = spec.groupCols ++ spec.valueCols
    def proj(df: DataFrame, sign: Int): DataFrame =
      df.select(cols.map(col) :+ lit(sign.toLong).as("__d"): _*)
    applyZDelta(spark, dir, proj(inserts, 1).unionByName(proj(deletes, -1)))
  }

  /** A staged (read-only validated) z-delta refresh: everything
    * [[commitZDelta]] needs to land the z-set and view commits. Split
    * from the old monolithic applyZDelta (r15) so [[IvmOverJoin]] can
    * run this staging CONCURRENTLY with its side-fold commits (guide
    * §2.6 — the staging touches only the inner tables, which the side
    * commits never write). `nz`/`bucketRows`/`delta` are persisted;
    * the caller releases. */
  private[graft] final case class StagedZ(
      delta: DataFrame, bucketRows: DataFrame, nz: DataFrame,
      changed: DataFrame, recomputed: DataFrame, vDels: DataFrame,
      zStats: Map[Int, Long], vStats: Option[Map[Int, Long]],
      pruned: Boolean, zLatest: Int, cols: Seq[String]) {
    def release(): Unit = {
      delta.unpersist(blocking = false)
      nz.unpersist(blocking = false)
      bucketRows.unpersist(blocking = false)
    }
  }

  /**
   * Apply one PRE-SIGNED z-set delta: `signed` carries the z-set
   * columns plus a weight column `__d` (any signed long — rows need
   * not be pre-grouped; joined deltas with multiplied multiplicities
   * land here via [[IvmOverJoin]]). [[applyDelta]] is the ±1 row-CDC
   * instance. Same contract otherwise: commits the z-set then the
   * view, rejects (without committing) a delta that would drive a
   * multiplicity negative, quiet batches still advance both versions.
   */
  private[graft] def applyZDelta(spark: SparkSession, dir: String,
                                 signed: DataFrame): (Int, Int) = {
    val staged = stageZDelta(spark, dir, signed)
    try commitZDelta(spark, dir, staged)
    finally staged.release()
  }

  /** The read-only half of [[applyZDelta]]: net the delta, validate
    * (NULL groups, negativity) and pre-compute every frame the two
    * commits fold — nothing is written. */
  private[graft] def stageZDelta(spark: SparkSession, dir: String,
                                 signed: DataFrame): StagedZ = {
    val spec = readSpec(spark, dir)
    val zd = zsetDir(dir)
    val zLatest = MergeTable.latestVersion(spark, zd)
    require(readSync(spark, dir) ==
        ((zLatest, MergeTable.latestVersion(spark, viewDir(dir)))),
      s"view at $dir is out of sync with its z-set (crash in the " +
        "commit window?) — run Ivm.rebuildView first")
    val cols = spec.groupCols ++ spec.valueCols
    val zMeta = MergeTable.readMeta(spark, zd)
    // net-zero (g, v) rows are KEPT in the delta: they change nothing
    // in the fold (new mult == old mult, zero-only rows drop at the
    // != 0 filter) but keep the touched-group set equal to the batch's
    // raw group set, so a replayed batch's read-only re-emit
    // ([[groupsAt]] over the raw batch) is row-identical to what the
    // original refresh emitted.
    val delta = signed
      .select(cols.map(c =>
        col(c).cast(zMeta.schema(c).dataType).as(c)) :+
        col("__d").cast(LongType).as("__d"): _*)
      .groupBy(cols.map(col): _*).agg(sum(col("__d")).as("__d"))
      .persist()
    // NULL group keys are rejected UP FRONT with the real reason: the
    // z-set fold itself (groupBy) would handle them, but the view
    // table's keyed merge masks deletes with a null-unsafe equi-join —
    // SQL GROUP BY's null group is not supported; COALESCE upstream.
    // (Null VALUE columns are fine — the aggregates follow SQL
    // null-skipping semantics.)
    var nzH: Option[DataFrame] = None
    var rowsH: Option[DataFrame] = None
    try {
      // Fold the TOUCHED GROUPS' state (old rows ∪ delta, reconciled —
      // the read is touched-bucket + overlay, pinned at zLatest): one
      // frame serves the negativity check, the batch-sized z-set write
      // AND the view recompute, so the refresh never re-reads state.
      // ONE FUSED stats job (round 14, guide §1.2 — the per-job
      // scheduler floor dominates small-batch refresh latency) serves
      // the bucket-pruned read, the z-set commit's mode decision
      // (delta keys bucket by their group cols, so the per-bucket
      // counts transfer exactly), the NULL-group rejection, AND the
      // view commit's touch stats (the view is bucketed by the same
      // group columns modulo the same nBuckets — re-checked below —
      // and its upsert∪delete key set is exactly the delta's distinct
      // groups) — previously three separate driver jobs per refresh.
      val tg = delta.select(spec.groupCols.map(col): _*).distinct()
      val (zStats, vGroupStats, nullG) =
        MergeTable.bucketStatsFused(spark, zd, delta, spec.groupCols)
      require(nullG == 0,
        s"$nullG delta rows carry NULL group columns — null groups are " +
          "not supported (coalesce them upstream); nothing was committed")
      val vMeta = MergeTable.readMeta(spark, viewDir(dir))
      val vStats: Option[Map[Int, Long]] =
        // both sides re-validated: the fused distinct-group counts are
        // computed with the Z-SET's bucketExpr, so its bucketCols must
        // equal spec.groupCols too (create pins it; the guard exists
        // precisely to re-check invariants, r14 ADVICE)
        if (vMeta.nBuckets == zMeta.nBuckets &&
            vMeta.bucketCols == spec.groupCols &&
            zMeta.bucketCols == spec.groupCols) Some(vGroupStats)
        else None
      // scatter-shaped batches commit WITHOUT rewriting the touched
      // buckets (overlay / fold), so staging their whole content is
      // pure read amplification — push the touched groups' first-
      // column candidates into the scan instead (bucket files are
      // key-sorted, group columns first, so row-group stats prune);
      // the semi-join below keeps the per-group rows exact either way
      val prune =
        if (MergeTable.commitBypassesCow(spark, zd, zStats))
          MergeTable.pruneVals(spark, zMeta, tg)
        else None
      val bucketRows = MergeTable.readBucketsAt(spark, zd, zLatest,
        zStats.keySet, prune).persist()
      rowsH = Some(bucketRows)
      val gOld = bucketRows.join(broadcast(tg), spec.groupCols, "left_semi")
      val nz = gOld.select(cols.map(col) :+ col(Mult): _*)
        .unionByName(delta.withColumnRenamed("__d", Mult))
        .groupBy(cols.map(col): _*).agg(sum(col(Mult)).as(Mult))
        .persist()
      nzH = Some(nz)
      val neg = nz.filter(col(Mult) < 0).count()
      require(neg == 0,
        s"$neg (group, value) rows would go NEGATIVE — the batch " +
          "deletes rows that were never inserted; the change stream " +
          "is inconsistent with the maintained state (nothing was " +
          "committed)")
      // the z-set write is BATCH-SIZED for any key distribution: only
      // the delta's own keys can have changed — MergeTable picks the
      // commit mode (COW buckets / overlay delta / budget fold)
      val dKeys = delta.select(cols.map(col): _*)
      // null-SAFE key mask: value columns are legal-null z-set keys
      val changed = MergeTable.keyJoin(nz, dKeys, cols, "left_semi")
      // touched groups' view rows recompute from the same folded state
      // (live rows only); groups whose rows all died are deleted
      val live = nz.filter(col(Mult) =!= 0)
      val recomputed = live
        .groupBy(spec.groupCols.map(col): _*)
        .agg(aggExprs(spec, zMeta.schema).head,
             aggExprs(spec, zMeta.schema).tail: _*)
      val vDels = tg.join(recomputed.select(spec.groupCols.map(col): _*),
        spec.groupCols, "left_anti")
      StagedZ(delta, bucketRows, nz, changed, recomputed, vDels,
        zStats, vStats, prune.isDefined, zLatest, cols)
    } catch {
      case e: Throwable =>
        delta.unpersist(blocking = false)
        nzH.foreach(_.unpersist(blocking = false))
        rowsH.foreach(_.unpersist(blocking = false))
        throw e
    }
  }

  /** The write half of [[applyZDelta]]: land the z-set and view
    * commits CONCURRENTLY (round 14 — both derive from the persisted
    * staged fold, write disjoint tables, and are each one
    * claim-guarded MergeTable commit; the per-commit job floor, not
    * data volume, dominates refresh latency at deployment batch
    * sizes). Every crash/failure permutation (either side landed
    * without the other, or both landed with the marker unwritten)
    * leaves VIEWSYNC mismatched, so the next refresh refuses and
    * rebuildView repairs. */
  private[graft] def commitZDelta(spark: SparkSession, dir: String,
                                  s: StagedZ): (Int, Int) = {
    val (zv, vv) = Par.par2(
      "z-set commit",
      MergeTable.mergeResolved(spark, zsetDir(dir),
        s.changed.filter(col(Mult) =!= 0),
        s.changed.filter(col(Mult) === 0).select(s.cols.map(col): _*),
        preStats = Some(s.zStats),
        // a pruned read is NOT the complete touched-bucket state a
        // COW rewrite needs — only the whole-bucket read is reused
        preOld = if (s.pruned) None else Some(s.bucketRows),
        // staged-read fence: bucketRows/nz are pinned to zLatest —
        // an interleaved z-set writer fails this commit loudly
        // instead of having its changes silently erased
        preVersion = Some(s.zLatest)),
      // the view commit's perBucket stats come FREE from the fused
      // stats job (the view's upsert∪delete key set is exactly tg,
      // whose per-bucket distinct-group counts vStats carries) —
      // without them mergeResolved runs its own collect job
      "view commit",
      MergeTable.mergeResolved(spark, viewDir(dir),
        s.recomputed, s.vDels, preStats = s.vStats))
    syncMarker(spark, dir, zv, vv)
    (zv, vv)
  }

  /** Replace the ENTIRE z-set with `z` (z-set columns + `__mult`, one
    * row per distinct tuple, multiplicities > 0) in one committed
    * version — the [[IvmOverJoin]] rebuild path, which recomputes the
    * joined projection from its side z-sets. Follow with
    * [[rebuildView]]. */
  private[graft] def replaceZset(spark: SparkSession, dir: String,
                                 z: DataFrame): Int = {
    val spec = readSpec(spark, dir)
    val zd = zsetDir(dir)
    val touch = MergeTable.read(spark, zd)
      .select(spec.groupCols.map(col): _*)
      .unionByName(z.select(spec.groupCols.map(col): _*))
      .distinct()
    MergeTable.mergeCompute(spark, zd, touch)(_ => z)
  }

  /** Recompute EVERY group's view row from the z-set — the crash
    * repair (and bootstrap-check) path. O(z-set state), group-local,
    * no base-table access. */
  def rebuildView(spark: SparkSession, dir: String): Int = {
    val spec = readSpec(spark, dir)
    val zd = zsetDir(dir)
    val zMeta = MergeTable.readMeta(spark, zd)
    val z = MergeTable.read(spark, zd)
    val recomputed = z.groupBy(spec.groupCols.map(col): _*)
      .agg(aggExprs(spec, zMeta.schema).head,
           aggExprs(spec, zMeta.schema).tail: _*)
      .persist()
    val touch = MergeTable.read(spark, viewDir(dir))
      .select(spec.groupCols.map(col): _*)
      .unionByName(recomputed.select(spec.groupCols.map(col): _*))
      .distinct()
    val vv = MergeTable.mergeCompute(spark, viewDir(dir), touch)(_ =>
      recomputed)
    recomputed.unpersist(blocking = false)
    syncMarker(spark, dir, MergeTable.latestVersion(spark, zd), vv)
    vv
  }

  /** Read-only recompute of the groups `touched` touches, against a
    * PINNED z-set version — the streaming redelivery path: a replayed
    * batch re-emits the identical refreshed rows without reapplying
    * anything. Emits only LIVE groups (a group whose rows all died by
    * that version is absent, exactly as the original refresh emitted). */
  def groupsAt(spark: SparkSession, dir: String, zsetVersion: Int,
               touched: DataFrame): DataFrame = {
    val spec = readSpec(spark, dir)
    val zMeta = MergeTable.readMeta(spark, zsetDir(dir))
    val tg = touched.select(spec.groupCols.map(col): _*).distinct()
    val (rows, _) =
      MergeTable.readForKeysAt(spark, zsetDir(dir), zsetVersion, tg)
    rows.join(broadcast(tg), spec.groupCols, "left_semi")
      .groupBy(spec.groupCols.map(col): _*)
      .agg(aggExprs(spec, zMeta.schema).head,
           aggExprs(spec, zMeta.schema).tail: _*)
  }

  /** Current z-set version (the version [[applyDelta]] advances by
    * exactly one per batch — what stream wrappers pair batch ids to). */
  def latestVersion(spark: SparkSession, dir: String): Int =
    MergeTable.latestVersion(spark, zsetDir(dir))

  /** True when the VIEWSYNC pair mismatches either table's LATEST —
    * a crash anywhere in the (concurrent) commit window: z landed
    * without the view, the view landed without its z-set, or both
    * landed with the marker unwritten — [[rebuildView]] repairs all
    * of them. */
  def viewStale(spark: SparkSession, dir: String): Boolean =
    readSync(spark, dir) != ((latestVersion(spark, dir),
      MergeTable.latestVersion(spark, viewDir(dir))))

  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir, "SPEC")) &&
      MergeTable.exists(spark, zsetDir(dir))

  /** The maintained view (one row per live group). */
  def readView(spark: SparkSession, dir: String): DataFrame =
    MergeTable.read(spark, viewDir(dir))

  /** The live z-set (distinct (group, values) rows with multiplicity
    * `__mult` > 0) — the counting state, useful for audits. */
  def readZset(spark: SparkSession, dir: String): DataFrame =
    MergeTable.read(spark, zsetDir(dir))

  /** Drop old versions of both inner tables. */
  def gc(spark: SparkSession, dir: String, retainLast: Int): Unit = {
    MergeTable.gc(spark, zsetDir(dir), retainLast)
    MergeTable.gc(spark, viewDir(dir), retainLast)
  }
}
