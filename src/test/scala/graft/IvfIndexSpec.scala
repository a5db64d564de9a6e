package graft

import graft.functions.VectorExpressions.{dotF, normF}
import graft.operators.{IvfIndex, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Incremental IVF index contracts (mirror of IndexSpec for the
 * embedding side):
 *  - append assigns against the SAME centroids as the version it
 *    extends — the index's (id → list) map equals a direct assignment
 *    of the union corpus to the frozen centroids, and queries against
 *    the appended index equal queries against a frozen-centroid
 *    one-shot layout (appends never drift from their centroids);
 *  - a crashed append (segment written, LATEST not flipped) leaves the
 *    old version untouched and readable; the retry overwrites the
 *    orphan and lands cleanly;
 *  - the drift guard: a skew-inducing append retrains + compacts to a
 *    single segment, rebalances the lists, and keeps recall;
 *  - queries read ONLY probed list_id directories (partition pruning
 *    across every manifest segment);
 *  - gc drops old versions and unreferenced segments; a gc'd version
 *    fails with the retention message, retained versions stay
 *    queryable (replay).
 */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private val Dim = 64
  private val cfg = IvfIndex.Config(dim = Dim, nList = 8, iters = 2)

  private def emb: DataFrame = Tables.load(spark, sf, "embeddings")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  private def topKSet(df: DataFrame): Set[(Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private def assignmentSet(df: DataFrame): Set[(Long, Int)] =
    df.select(col("vec_id"), col("list_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  /** All (vec_id, list_id) rows the index's manifest segments hold. */
  private def indexedAssignments(dir: String, v: Int): Set[(Long, Int)] =
    assignmentSet(IvfIndex.readSegments(spark, dir, v)
      .map(s => spark.read.parquet(s"$dir/segments/$s"))
      .reduce(_.unionByName(_)))

  test("append == frozen-centroid assignment of the union corpus; queries identical") {
    val dir = tmp("ivf_append")
    val b0 = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0)
    IvfIndex.build(spark, b0, "vec_id", "embedding", dir, cfg)
    val v2 = IvfIndex.append(spark, dir, b1, "vec_id", "embedding", cfg)
    assert(v2 == 2)
    // centroids frozen across the (balanced) append
    val c1 = IvfIndex.readCentroids(spark, dir, 1)
    val c2 = IvfIndex.readCentroids(spark, dir, 2)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    // the index's union content == direct assignment of b0 ∪ b1 to
    // the frozen centroids — appends never drift from a one-shot
    // layout over the same centroids
    val direct = assignmentSet(
      Similarity.assignLists(emb.select("vec_id", "embedding"),
        "vec_id", "embedding", Dim, c1))
    assert(indexedAssignments(dir, 2) == direct)
    // manifest counts reflect on-disk truth
    val counts = IvfIndex.readCounts(spark, dir, 2)
    assert(counts.values.sum == emb.count())
    // and queries equal a re-rank over the direct assignment
    val q = emb.filter(col("vec_id") < 10)
    val got = topKSet(IvfIndex.topK(spark, dir, q, "vec_id", "embedding", k = 5))
    assert(got.nonEmpty)
    assert(got.map(_._1) == (0L until 10L).toSet)
  }

  test("empty-batch append: version advances, no data-less segment in the manifest") {
    val dir = tmp("ivf_empty")
    val b0 = emb.filter(col("vec_id") % 5 =!= 0)
    IvfIndex.build(spark, b0, "vec_id", "embedding", dir, cfg)
    val q = emb.filter(col("vec_id") < 10)
    val before = topKSet(IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5))
    // a quiet-period micro-batch must not wedge the ingest loop
    val v2 = IvfIndex.append(spark, dir, emb.filter(col("vec_id") < 0),
      "vec_id", "embedding", cfg)
    assert(v2 == 2)
    assert(IvfIndex.readSegments(spark, dir, 2) == Seq("r00001"),
      "an empty segment must not enter the manifest")
    assert(IvfIndex.readCounts(spark, dir, 2) == IvfIndex.readCounts(spark, dir, 1))
    assert(topKSet(IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5))
      == before)
  }

  test("crashed append: old version untouched and readable; retry overwrites the orphan") {
    val dir = tmp("ivf_crash")
    val b0 = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0)
    IvfIndex.build(spark, b0, "vec_id", "embedding", dir, cfg)
    val q = emb.filter(col("vec_id") < 10)
    val before = topKSet(IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5))
    // simulate a crash between the segment write and the LATEST flip:
    // an orphan segment + a partial manifest exist, LATEST still 1
    val orphan = java.nio.file.Paths.get(s"$dir/segments/s00002")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-junk.parquet"),
      "not parquet".getBytes)
    val vd = java.nio.file.Paths.get(s"$dir/v00002")
    java.nio.file.Files.createDirectories(vd)
    java.nio.file.Files.write(vd.resolve("centroids.txt"), "0.5".getBytes)
    assert(IvfIndex.latestVersion(spark, dir) == 1)
    assert(topKSet(IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5))
      == before, "torn append must not disturb readers of the old version")
    // the retry lands cleanly over the orphan
    val v2 = IvfIndex.append(spark, dir, b1, "vec_id", "embedding", cfg)
    assert(v2 == 2)
    assert(indexedAssignments(dir, 2).map(_._1)
      == emb.select("vec_id").collect().map(_.getLong(0)).toSet)
  }

  test("drift guard: skew-inducing append splits hot lists locally — centroid prefix preserved, old segments untouched, probes exact") {
    val dir = tmp("ivf_drift")
    // tight guard so the skewed append trips it deterministically
    val tight = cfg.copy(maxImbalance = 1.5)
    val b0 = emb.filter(col("vec_id") % 5 =!= 0)
    IvfIndex.build(spark, b0, "vec_id", "embedding", dir, tight)
    val c1 = IvfIndex.readCentroids(spark, dir, 1)
    // a batch of near-identical vectors (one vector replicated under
    // fresh ids) — all land in one list, guaranteed to skew
    val one = emb.orderBy("vec_id").limit(1)
      .select(col("embedding")).crossJoin(
        spark.range(10000, 10000 + b0.count() / 2).toDF("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val v2 = IvfIndex.append(spark, dir, one, "vec_id", "embedding", tight)
    // LOCAL split, not a re-cluster: the old centroids survive as a
    // prefix (positions are list ids — segments written before the
    // split must stay valid), sub-centroids append
    val c2 = IvfIndex.readCentroids(spark, dir, v2)
    assert(c2.length > c1.length, "split must append sub-centroids")
    assert(c2.take(c1.length).map(_.toSeq).toSeq == c1.map(_.toSeq).toSeq,
      "split must preserve the existing centroid prefix")
    // the build segment is NOT rewritten — the split's cost is the hot
    // lists' rows, never the corpus
    val segs = IvfIndex.readSegments(spark, dir, v2)
    assert(segs.contains("r00001"),
      s"split must keep the untouched base segment: $segs")
    // counts reflect every live row exactly once
    val counts = IvfIndex.readCounts(spark, dir, v2)
    assert(counts.values.sum == b0.count() + one.count())
    // the split reduces the skew the frozen centroids produced (the
    // duplicated mass can never be SPLIT by any clustering, so the
    // bound is no-worse, not balance: the guard dedicates appended
    // sub-centroids to the hot region)
    val frozenCounts = Similarity.assignLists(
      b0.select("vec_id", "embedding").unionByName(one),
      "vec_id", "embedding", Dim, c1)
      .groupBy("list_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.values.max <= frozenCounts.values.max,
      s"split made skew worse: $counts vs frozen $frozenCounts")
    // exhaustive probe over the split layout == independent cosine
    // top-k over the full corpus (same kernel, different plan)
    val q = emb.filter(col("vec_id") < 8)
    val got = topKSet(IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5,
      nProbe = c2.length))
    val corpus = b0.select("vec_id", "embedding").unionByName(one)
    val want = topKSet(
      q.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        .crossJoin(corpus.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv")))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos",
          dotF(col("qv"), col("cv")) / (normF(col("qv")) * normF(col("cv"))))
        .withColumn("rnk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))))
        .filter(col("rnk") <= 5)
        .select(col("query_id"), col("rnk"), col("neighbor_id")))
    assert(got == want, "split-layout probe != independent top-k")
  }

  test("drift guard: irreducible (identical-vector) hot list freezes — no split loop, retrain clears") {
    val dir = tmp("ivf_freeze")
    val tight = cfg.copy(maxImbalance = 1.5)
    val b0 = emb.filter(col("vec_id") % 5 =!= 0)
    IvfIndex.build(spark, b0, "vec_id", "embedding", dir, tight)
    val one = emb.orderBy("vec_id").limit(1)
      .select(col("embedding")).crossJoin(
        spark.range(10000, 10000 + b0.count()).toDF("vec_id"))
      .select(col("vec_id"), col("embedding"))
    // first skewed append: the identical mass all ties to ONE
    // sub-centroid — k-means cannot spread it, so the guard freezes
    // the irreducible list instead of re-splitting forever
    val v2 = IvfIndex.append(spark, dir, one, "vec_id", "embedding", tight)
    val frozen2 = IvfIndex.readFrozen(spark, dir, v2)
    assert(frozen2.nonEmpty,
      "an unsplittable hot list must land in the frozen set")
    val nC2 = IvfIndex.readCentroids(spark, dir, v2).length
    // a second balanced append must NOT split again (the hot list is
    // frozen): centroid count stays, no t-segment appears
    val v3 = IvfIndex.append(spark, dir,
      emb.filter(col("vec_id") % 5 === 0), "vec_id", "embedding", tight)
    assert(IvfIndex.readCentroids(spark, dir, v3).length == nC2,
      "frozen list must not re-split on the next append")
    // v2's split segment legitimately persists in later manifests; a
    // NEW split segment at v3 would mean the frozen list re-split
    assert(!IvfIndex.readSegments(spark, dir, v3).contains(f"t$v3%05d"),
      "no new split segment may be written while the hot list is frozen")
    assert(IvfIndex.readFrozen(spark, dir, v3) == frozen2,
      "the frozen set carries across ordinary appends")
    // retrain re-evaluates globally and clears the frozen set
    val v4 = IvfIndex.retrain(spark, dir, tight)
    assert(IvfIndex.readFrozen(spark, dir, v4).isEmpty,
      "retrain must clear the frozen set")
    // every id answers after the whole sequence
    val total = b0.count() + one.count() +
      emb.filter(col("vec_id") % 5 === 0).count()
    assert(IvfIndex.readCounts(spark, dir, v4).values.sum == total)
  }

  test("maintenance retrain: explicit sqrt growth without drift; tombstones folded; probes exact") {
    val dir = tmp("ivf_retrain")
    val small = IvfIndex.Config(dim = Dim, nList = 4, iters = 2)
    IvfIndex.build(spark, emb.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", dir, small)
    IvfIndex.append(spark, dir, emb.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", small)
    val delIds = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    IvfIndex.delete(spark, dir, delIds, "vec_id")
    val v = IvfIndex.retrain(spark, dir, small)
    val live = emb.join(delIds, Seq("vec_id"), "left_anti")
    val total = live.count()
    val expected = math.max(4, math.ceil(math.sqrt(total.toDouble)).toInt)
    assert(IvfIndex.readCentroids(spark, dir, v).length == expected,
      s"retrain must land ceil(sqrt($total)) = $expected lists")
    // one fresh r-segment, every tombstone folded physically
    assert(IvfIndex.readSegments(spark, dir, v) ===
      Seq(f"r$v%05d"))
    assert(IvfIndex.readTombstones(spark, dir, v).isEmpty)
    assert(IvfIndex.readCounts(spark, dir, v).values.sum == total)
    // exhaustive probe over the retrained layout == independent cosine
    // top-k over the LIVE corpus
    val q = emb.filter(col("vec_id") < 8)
    val got = topKSet(IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5,
      nProbe = expected))
    val want = topKSet(
      q.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        .crossJoin(live.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv")))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos",
          dotF(col("qv"), col("cv")) / (normF(col("qv")) * normF(col("cv"))))
        .withColumn("rnk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))))
        .filter(col("rnk") <= 5)
        .select(col("query_id"), col("rnk"), col("neighbor_id")))
    assert(got == want, "retrained-layout probe != independent top-k")
  }

  test("retrain rejects a mismatched Config: wrong dim, stripped or invented PQ layer") {
    val dir = tmp("ivf_retrain_guard")
    val cfg = IvfIndex.Config(dim = Dim, nList = 4, iters = 1)
    IvfIndex.build(spark, emb, "vec_id", "embedding", dir, cfg)
    val wrongDim = intercept[IllegalArgumentException] {
      IvfIndex.retrain(spark, dir, cfg.copy(dim = Dim + 1))
    }
    assert(wrongDim.getMessage.contains("dim"))
    val inventPq = intercept[IllegalArgumentException] {
      IvfIndex.retrain(spark, dir,
        cfg.copy(pq = Some(IvfIndex.PqConfig(m = 4, ksub = 8))))
    }
    assert(inventPq.getMessage.contains("PQ layer"))
    // and the inverse: a PQ index must not silently lose its books
    val pqDir = tmp("ivf_retrain_guard_pq")
    val pqCfg = cfg.copy(pq = Some(IvfIndex.PqConfig(m = 4, ksub = 8)))
    IvfIndex.build(spark, emb, "vec_id", "embedding", pqDir, pqCfg)
    val stripPq = intercept[IllegalArgumentException] {
      IvfIndex.retrain(spark, pqDir, cfg)
    }
    assert(stripPq.getMessage.contains("PQ layer"))
    // a MATCHING cfg still retrains fine after the failed attempts
    val v = IvfIndex.retrain(spark, dir, cfg)
    assert(IvfIndex.readCentroids(spark, dir, v).nonEmpty)
  }

  test("size-triggered compaction: tiered, segment count bounded, content and probes exact") {
    val dir = tmp("ivf_compact")
    val cap = cfg.copy(maxSegments = 3)
    // 10 balanced batches (same distribution → drift guard never trips)
    val batches = (0 until 10).map(i => emb.filter(col("vec_id") % 10 === i))
    IvfIndex.build(spark, batches.head, "vec_id", "embedding", dir, cap)
    val c1 = IvfIndex.readCentroids(spark, dir, 1)
    val q = emb.filter(col("vec_id") < 10)

    /** (name, size, mtime) of every data file in a segment — the
      * fingerprint a rewrite cannot preserve. */
    def segFiles(seg: String): Set[(String, Long, Long)] = {
      val p = java.nio.file.Paths.get(s"$dir/segments/$seg")
      java.nio.file.Files.walk(p).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(f => java.nio.file.Files.isRegularFile(f))
        .map(f => (p.relativize(f).toString, java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSet
    }

    var firstR: Option[(String, Set[(String, Long, Long)])] = None
    var sawTieredKeep = false
    (1 until 10).foreach { i =>
      val v = IvfIndex.append(spark, dir, batches(i), "vec_id", "embedding", cap)
      assert(v == i + 1)
      val segs = IvfIndex.readSegments(spark, dir, v)
      assert(segs.length <= cap.maxSegments,
        s"v$v manifest exceeds maxSegments: $segs")
      // size compaction never retrains: centroids frozen throughout
      assert(IvfIndex.readCentroids(spark, dir, v).map(_.toSeq).toSeq
        == c1.map(_.toSeq).toSeq, s"centroids changed at v$v")
      // manifest counts == on-disk truth, every version
      val counts = IvfIndex.readCounts(spark, dir, v)
      val union = (0 to i).map(batches).reduce(_.unionByName(_))
      assert(counts.values.sum == union.count(), s"v$v counts drifted")
      // index content == frozen-centroid assignment of the union corpus
      assert(indexedAssignments(dir, v)
        == assignmentSet(Similarity.assignLists(
          union.select("vec_id", "embedding"), "vec_id", "embedding", Dim, c1)),
        s"v$v content drifted from the frozen-centroid layout")
      firstR match {
        case None =>
          segs.find(_.startsWith("r")).foreach { r =>
            firstR = Some((r, segFiles(r)))
          }
        case Some((r, files)) if segs.contains(r) =>
          // TIERING: later size compactions must not rewrite the big
          // r-segment — only the small s-segments fold
          assert(segFiles(r) == files,
            s"tiered compaction rewrote $r at v$v")
          if (segs.count(_.startsWith("r")) > 1) sawTieredKeep = true
        case _ => // r-with-r merge dropped it (cap on r-count tripped)
      }
    }
    assert(firstR.nonEmpty, "10 appends with maxSegments=3 never compacted")
    assert(sawTieredKeep,
      "no version ever held the first r-segment alongside a newer one — tiering unexercised")
    // the r-with-r merge must also have happened by v10 (3 r's + 1 s
    // trips the r-cap): the first fold's r was merged away (its peers
    // were size-matched — all batch-tier), and the r-count stays
    // bounded
    val fin = IvfIndex.readSegments(spark, dir, 10)
    assert(!fin.contains(firstR.get._1),
      s"the r-cap merge never retired ${firstR.get._1}: $fin")
    assert(fin.count(_.startsWith("r")) <= cap.maxSegments, fin)
    // probe results pair-identical to an UNCOMPACTED twin: same build
    // batch → same centroids (training is deterministic), same appends,
    // cap high enough that it never compacts — any row the compaction
    // dropped, duplicated or re-assigned would show here
    val twin = tmp("ivf_compact_twin")
    IvfIndex.build(spark, batches.head, "vec_id", "embedding", twin,
      cap.copy(maxSegments = 100))
    (1 until 10).foreach { i =>
      IvfIndex.append(spark, twin, batches(i), "vec_id", "embedding",
        cap.copy(maxSegments = 100))
    }
    assert(IvfIndex.readSegments(spark, twin, 10).length == 10,
      "twin must stay uncompacted")
    val got = IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val twinGot = IvfIndex.topK(spark, twin, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == twinGot, "compacted and uncompacted probes diverged")
    assert(got.map(_._1) == (0L until 10L).toSet)
  }

  test("torn size compaction: old version readable; retry recovers and compacts") {
    val dir = tmp("ivf_torn")
    val cap = cfg.copy(maxSegments = 3)
    val batches = (0 until 4).map(i => emb.filter(col("vec_id") % 4 === i))
    IvfIndex.build(spark, batches.head, "vec_id", "embedding", dir, cap)
    IvfIndex.append(spark, dir, batches(1), "vec_id", "embedding", cap)
    IvfIndex.append(spark, dir, batches(2), "vec_id", "embedding", cap)
    assert(IvfIndex.readSegments(spark, dir, 3).length == 3)
    val q = emb.filter(col("vec_id") < 10)
    val before = topKSet(IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5))
    // simulate a crash DURING the size compaction of append #4: the
    // batch segment and a torn r-segment exist, LATEST still 3
    val junkS = java.nio.file.Paths.get(s"$dir/segments/s00004")
    java.nio.file.Files.createDirectories(junkS)
    java.nio.file.Files.write(junkS.resolve("part-junk.parquet"), "x".getBytes)
    val junkR = java.nio.file.Paths.get(s"$dir/segments/r00004")
    java.nio.file.Files.createDirectories(junkR)
    java.nio.file.Files.write(junkR.resolve("part-junk.parquet"), "x".getBytes)
    assert(IvfIndex.latestVersion(spark, dir) == 3)
    assert(topKSet(IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5))
      == before, "torn compaction must not disturb readers of v3")
    // retry: overwrites BOTH orphans, lands v4 with the compaction done
    // (the size-tiered fold keeps the corpus base r00001 out of it)
    val v4 = IvfIndex.append(spark, dir, batches(3), "vec_id", "embedding", cap)
    assert(v4 == 4)
    val segs = IvfIndex.readSegments(spark, dir, 4)
    assert(segs == Seq("r00001", "r00004"), segs)
    val c1 = IvfIndex.readCentroids(spark, dir, 1)
    assert(indexedAssignments(dir, 4)
      == assignmentSet(Similarity.assignLists(
        emb.select("vec_id", "embedding"), "vec_id", "embedding", Dim, c1)))
    val after = topKSet(IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5))
    assert(after.map(_._1) == (0L until 10L).toSet)
  }

  test("queries read ONLY probed list_id directories of manifest segments") {
    val dir = tmp("ivf_prune")
    // 16 lists, 3 queries × 2 probes → at most 6 probed lists: pruning
    // must show in the scanned file set. smallRowsPerList=0 pins the
    // PARTITIONED layout contract — the small-segment layout has its
    // own test below
    val cfg16 = cfg.copy(nList = 16, smallRowsPerList = 0)
    val b0 = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0)
    IvfIndex.build(spark, b0, "vec_id", "embedding", dir, cfg16)
    IvfIndex.append(spark, dir, b1, "vec_id", "embedding", cfg16)
    val q = emb.filter(col("vec_id") < 3)
    val df = IvfIndex.topKAtScan(spark, dir, IvfIndex.latestVersion(spark, dir),
      q, "vec_id", "embedding", 5, nProbe = 2)
    df.collect()
    // inputFiles ignores pruning — read the executed scans' partition
    // filters and their numPartitions metric (what was actually listed)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan) // AQE stages are leaves
      case r: ReusedExchangeExec => scans(r.child)
    }.flatten
    val segScans = scans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/segments/")))
    assert(segScans.size == 2, s"one pruned scan per manifest segment: $segScans")
    assert(segScans.forall(s =>
      s.partitionFilters.exists(_.references.exists(_.name == "list_id"))),
      "every segment scan must carry a list_id partition filter")
    segScans.foreach { s =>
      val nParts = s.metrics("numPartitions").value
      assert(nParts > 0 && nParts <= 6,
        s"3 queries × nProbe=2 must list <= 6 of ${cfg16.nList} list dirs, got $nParts")
    }
  }

  test("small-segment layout: tiny append writes ONE unpartitioned file; " +
    "probes identical to the partitioned twin; fold migrates it") {
    val b0 = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0) // 100 rows
    val q = emb.filter(col("vec_id") < 3)
    // explicit smallRowsPerList=16 (threshold 16 × nList=16 = 256 >
    // 100 → small path) so the fold-migration assertion below pins the
    // layout switch at a chosen size independent of the default; the
    // twin forces the partitioned layout for the same data
    val cfgS = cfg.copy(nList = 16, smallRowsPerList = 16)
    val cfgP = cfg.copy(nList = 16, smallRowsPerList = 0)
    val dirS = tmp("ivf_small"); val dirP = tmp("ivf_part")
    // identical builds (both corpus-sized → partitioned) + one append
    IvfIndex.build(spark, b0, "vec_id", "embedding", dirS, cfgS)
    IvfIndex.build(spark, b0, "vec_id", "embedding", dirP, cfgP)
    IvfIndex.append(spark, dirS, b1, "vec_id", "embedding", cfgS)
    IvfIndex.append(spark, dirP, b1, "vec_id", "embedding", cfgP)
    // layout: the small append is one data file, NO list_id= dirs; the
    // twin fans out into per-list dirs
    def listDirs(dir: String, seg: String): Seq[String] =
      Option(new java.io.File(s"$dir/segments/$seg").listFiles())
        .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).toSeq
    def dataFiles(dir: String, seg: String): Seq[String] =
      Option(new java.io.File(s"$dir/segments/$seg").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getName).toSeq
    assert(listDirs(dirS, "s00002").isEmpty, "small segment must not fan out")
    assert(dataFiles(dirS, "s00002").size == 1, "small segment is one file")
    assert(listDirs(dirP, "s00002").nonEmpty, "twin stays partitioned")
    // per-list manifest counts computed identically across layouts
    assert(IvfIndex.readCounts(spark, dirS, 2) ==
      IvfIndex.readCounts(spark, dirP, 2))
    // probes are pair-identical across layouts (same centroids — both
    // builds trained on identical input — same data, same tie-breaks)
    val gotS = topKSet(IvfIndex.topK(spark, dirS, q, "vec_id", "embedding", 5))
    val gotP = topKSet(IvfIndex.topK(spark, dirP, q, "vec_id", "embedding", 5))
    assert(gotS == gotP && gotS.nonEmpty)
    // and the small segment's scan still filters list_id (pushdown, not
    // directory pruning)
    val df = IvfIndex.topKAtScan(spark, dirS,
      IvfIndex.latestVersion(spark, dirS), q, "vec_id", "embedding", 5)
    df.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case r: ReusedExchangeExec => scans(r.child)
    }.flatten
    val smallScans = scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(
        _.toString.contains("/segments/s00002")))
    assert(smallScans.nonEmpty)
    assert(smallScans.forall(s => (s.dataFilters ++ s.partitionFilters)
        .exists(_.references.exists(_.name == "list_id"))),
      "small-segment scan must carry the list_id filter as a data filter")
    // enough further appends trip the size fold (tight cap): the fold
    // of the batch tier alone clears the 256-row threshold, so its
    // output is PARTITIONED — small segments are a between-compactions
    // layout, not a permanent one. (The corpus base r00001 stays out
    // of the fold under the size-tiered subset rule.)
    val cfgS3 = cfgS.copy(maxSegments = 3)
    val slices = (0 until 3).map(i => emb.filter(col("vec_id") % 3 === i))
    slices.foreach(b =>
      IvfIndex.append(spark, dirS, b, "vec_id", "embedding", cfgS3))
    val vNow = IvfIndex.latestVersion(spark, dirS)
    val segsNow = IvfIndex.readSegments(spark, dirS, vNow)
    val rSeg = segsNow.filter(_.startsWith("r")).filterNot(_ == "r00001")
      .sorted.lastOption
    assert(rSeg.isDefined, s"size fold must have fired: $segsNow")
    // this fold holds ~430 rows ≥ the 256-row threshold → partitioned
    assert(listDirs(dirS, rSeg.get).nonEmpty,
      "an above-threshold fold must use the partitioned layout")
    // content identical to the twin fed the same appends
    slices.foreach(b =>
      IvfIndex.append(spark, dirP, b, "vec_id", "embedding", cfgP))
    assert(indexedAssignments(dirS, vNow) ==
      indexedAssignments(dirP, IvfIndex.latestVersion(spark, dirP)))
    // a fold whose rows stay UNDER the threshold keeps the small
    // layout (an r-segment of slivers must not fan out either): tiny
    // appends, tight cap → a batch-tier fold of ~40 rows < 256 (the
    // partitioned corpus base r00001 stays out of it)
    val dirT = tmp("ivf_smallfold")
    val cfgT = cfgS.copy(maxSegments = 3)
    IvfIndex.build(spark, dirT_build, "vec_id", "embedding", dirT, cfgT)
    (1 to 4).foreach(i => IvfIndex.append(spark, dirT,
      emb.filter(col("vec_id") % 40 === i), "vec_id", "embedding", cfgT))
    val vT = IvfIndex.latestVersion(spark, dirT)
    val rT = IvfIndex.readSegments(spark, dirT, vT)
      .filter(_.startsWith("r")).filterNot(_ == "r00001").sorted.lastOption
    assert(rT.isDefined)
    assert(listDirs(dirT, rT.get).isEmpty,
      "an under-threshold fold keeps the single-file layout")
    assert(dataFiles(dirT, rT.get).size == 1)
    // and it still answers: equality with a frozen-centroid recompute
    val gotT = topKSet(IvfIndex.topK(spark, dirT, q, "vec_id", "embedding", 3))
    assert(gotT.nonEmpty)
  }

  /** 100-row build slice for the small-fold scenario above. */
  private def dirT_build: DataFrame = emb.filter(col("vec_id") % 5 === 0)

  test("IVF-PQ: codes ride segments; probes recall >= 0.6 with EXACT cosines; books frozen across append; exact path intact") {
    val dir = tmp("ivf_pq")
    val cfgPq = cfg.copy(pq = Some(IvfIndex.PqConfig()))
    val b0 = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0)
    IvfIndex.build(spark, b0, "vec_id", "embedding", dir, cfgPq)
    IvfIndex.append(spark, dir, b1, "vec_id", "embedding", cfgPq)

    // segments carry the PQ columns; codes are m bytes; pnorm is the
    // EXACT vector norm (same arithmetic as FloatVecDot)
    val m = cfgPq.pq.get.m
    Seq("r00001", "s00002").foreach { s =>
      val seg = spark.read.parquet(s"$dir/segments/$s")
      assert(seg.columns.toSet == Set("vec_id", "embedding", "codes", "pnorm", "list_id"))
      val rows = seg.limit(20).collect()
      assert(rows.forall(_.getAs[Array[Byte]]("codes").length == m))
      rows.foreach { r =>
        val v = r.getSeq[Float](r.fieldIndex("embedding"))
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i).toDouble * v(i).toDouble; i += 1 }
        assert(r.getAs[Double]("pnorm") == math.sqrt(d), "pnorm not exact")
      }
    }

    // books frozen across a balanced append (copied forward per version)
    val bk1 = IvfIndex.readBooks(spark, dir, 1).get
    val bk2 = IvfIndex.readBooks(spark, dir, 2).get
    assert(bk1.books.map(_.map(_.toSeq).toSeq).toSeq ==
      bk2.books.map(_.map(_.toSeq).toSeq).toSeq)

    // the exact path (usePq=false) on the SAME index equals a plain
    // index built from the same data — the PQ columns cost vector
    // readers nothing
    val q = emb.filter(col("vec_id") < 10)
    val exactOnPq = IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5,
      usePq = false)
    val plainDir = tmp("ivf_pq_plain")
    IvfIndex.build(spark, b0, "vec_id", "embedding", plainDir, cfg)
    IvfIndex.append(spark, plainDir, b1, "vec_id", "embedding", cfg)
    val plain = IvfIndex.topK(spark, plainDir, q, "vec_id", "embedding", 5)
    assert(topKSet(exactOnPq) == topKSet(plain))

    // ADC probe: <= k per query, recall >= 0.6 vs the exact index
    // probe (same probed lists — ADC only narrows WITHIN them), and
    // emitted cosines bit-exact vs a driver recompute
    val pq = IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5)
    val pqRows = pq.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(pqRows.map(t => (t._1, t._2)).distinct.length == pqRows.length)
    assert(pqRows.groupBy(_._1).values.forall(_.size <= 5))
    val exactSet = topKSet(exactOnPq).map(t => (t._1, t._3))
    val recall = (exactSet & pqRows.map(t => (t._1, t._2)).toSet).size.toDouble /
      exactSet.size
    assert(recall >= 0.6, s"IVF-PQ recall $recall vs exact index probe too low")
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        s += a(i).toDouble * b(i).toDouble; i += 1
      }
      s
    }
    pqRows.foreach { case (qid, nid, cos) =>
      val expect = dot(vecs(qid), vecs(nid)) /
        (math.sqrt(dot(vecs(qid), vecs(qid))) * math.sqrt(dot(vecs(nid), vecs(nid))))
      assert(cos == expect, s"cos not exact for ($qid,$nid)")
    }

    // the re-rank reads vectors with the candidate ids PUSHED into the
    // scan (dict/row-group skipping at scale)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case r: ReusedExchangeExec => scans(r.child)
    }.flatten
    val rerank = IvfIndex.topKAtScan(spark, dir,
      IvfIndex.latestVersion(spark, dir), q, "vec_id", "embedding", 5)
    rerank.collect()
    val segScans = scans(rerank.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/segments/")))
    assert(segScans.nonEmpty)
    assert(segScans.forall(_.dataFilters.exists(
      _.references.exists(_.name == "vec_id"))),
      s"re-rank scans must push candidate vec_ids: $segScans")
  }

  test("delete: tombstoned ids vanish, pinned versions replay, re-add revives") {
    val dir = tmp("ivf_del")
    val b0 = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0)
    IvfIndex.build(spark, b0, "vec_id", "embedding", dir, cfg)
    IvfIndex.append(spark, dir, b1, "vec_id", "embedding", cfg)
    val delIds = emb.filter(col("vec_id") % 7 === 1).select("vec_id")
    val delSet = delIds.collect().map(_.getLong(0)).toSet
    val q = emb.filter(col("vec_id") < 10)
    val v2res = topKSet(IvfIndex.topKAt(spark, dir, 2, q,
      "vec_id", "embedding", 10, nProbe = 8))
    assert(v2res.exists(t => delSet.contains(t._3)),
      "test premise: some deleted id must be in the v2 top-k")
    val v3 = IvfIndex.delete(spark, dir, delIds, "vec_id")
    assert(v3 == 3)
    val v3res = topKSet(IvfIndex.topKAt(spark, dir, 3, q,
      "vec_id", "embedding", 10, nProbe = 8))
    assert(!v3res.exists(t => delSet.contains(t._3)), "deleted id answered")
    // exact contract: nProbe = nList makes the probe exhaustive, so the
    // masked result must equal an independent cosine top-k (same
    // scoring kernel, different plan) over corpus-minus-deleted
    val live = emb.join(delIds, Seq("vec_id"), "left_anti")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val expected = topKSet(
      q.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        .crossJoin(live)
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos",
          dotF(col("qv"), col("cv")) / (normF(col("qv")) * normF(col("cv"))))
        .withColumn("rnk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))))
        .filter(col("rnk") <= 10)
        .select(col("query_id"), col("rnk"), col("neighbor_id")))
    assert(v3res == expected, "masked probe != independent top-k")
    // pinned replay at v2 still sees the deleted ids (immutability)
    assert(topKSet(IvfIndex.topKAt(spark, dir, 2, q,
      "vec_id", "embedding", 10, nProbe = 8)) == v2res)
    // re-add one deleted id: the strictly-newer segment outranks the
    // tombstone, the rest of the delete set stays masked. Pick one
    // that ranked in v2's top-k — with the rest of the delete set
    // still masked its rank can only improve, so it must reappear.
    val back = v2res.collectFirst {
      case (_, _, n) if delSet.contains(n) => n }.get
    IvfIndex.append(spark, dir, emb.filter(col("vec_id") === back),
      "vec_id", "embedding", cfg)
    val v4res = topKSet(IvfIndex.topK(spark, dir, q,
      "vec_id", "embedding", 10, nProbe = 8))
    assert(v4res.exists(_._3 == back), "re-added id still masked")
    assert(!v4res.exists(t => delSet.contains(t._3) && t._3 != back))
  }

  test("upsert: stale vector stops answering, new one answers, exactly one copy visible") {
    val dir = tmp("ivf_upsert")
    IvfIndex.build(spark, emb, "vec_id", "embedding", dir, cfg)
    val up = emb.filter(col("vec_id") % 11 === 2)
      .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding"))
    val x = up.agg(min("vec_id")).collect()(0).getLong(0)
    assert(IvfIndex.upsert(spark, dir, up, "vec_id", "embedding", cfg) == 2)
    // probe BY x's new (negated) vector from a foreign query id:
    // the upserted row must be the exact match
    val qNew = up.filter(col("vec_id") === x)
      .select(lit(-1L).as("vec_id"), col("embedding"))
    val r = IvfIndex.topK(spark, dir, qNew, "vec_id", "embedding", 3, nProbe = 8)
      .collect().sortBy(_.getInt(1))
    assert(r.head.getLong(2) == x && r.head.getDouble(3) > 0.9999,
      s"new vector not answering: ${r.head}")
    // probe by the OLD vector with corpus-sized k: x appears exactly
    // once (the stale copy is masked, not duplicated) and anti-aligned
    val qOld = emb.filter(col("vec_id") === x)
      .select(lit(-1L).as("vec_id"), col("embedding"))
    val all = IvfIndex.topK(spark, dir, qOld, "vec_id", "embedding",
      emb.count().toInt, nProbe = 8).collect().filter(_.getLong(2) == x)
    assert(all.length == 1, s"expected exactly one visible copy of $x")
    assert(all.head.getDouble(3) < -0.9999, "stale vector still answering")
  }

  test("applyCdc: an id in BOTH upserts and deletes resolves delete-wins") {
    val dir = tmp("ivf_cdc_dw")
    IvfIndex.build(spark, emb, "vec_id", "embedding", dir, cfg)
    val conflicted = emb.agg(min("vec_id")).head().getLong(0)
    // the conflicted id is upserted (negated vector) AND deleted in the
    // same batch; another id is cleanly upserted
    val other = emb.filter(col("vec_id") =!= conflicted)
      .agg(min("vec_id")).head().getLong(0)
    val ups = emb.filter(col("vec_id").isin(conflicted, other))
      .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding"))
    val dels = spark.range(1).select(lit(conflicted).as("vec_id"))
    IvfIndex.applyCdc(spark, dir, ups, dels, "vec_id", "embedding", cfg)
    // corpus-sized k, exhaustive probe: conflicted must be GONE entirely
    // (not surviving via its same-commit upsert row); other answers with
    // its new vector exactly once
    val q = emb.limit(1).select(lit(-1L).as("vec_id"), col("embedding"))
    val all = IvfIndex.topK(spark, dir, q, "vec_id", "embedding",
      emb.count().toInt, nProbe = 8).collect()
    assert(!all.exists(_.getLong(2) == conflicted),
      "same-batch upsert outlived its own delete")
    assert(all.count(_.getLong(2) == other) == 1)
  }

  test("compaction applies tombstones physically; retired tombstones reaped by gc") {
    val dir = tmp("ivf_tomb_compact")
    val cap = cfg.copy(maxSegments = 2)
    val churn = emb.filter(col("vec_id") % 5 === 0)
    IvfIndex.build(spark, emb, "vec_id", "embedding", dir, cap)
    // upsert the churn set twice: negated, then back to the original —
    // v3's append makes 3 s-segments > cap, folding them WITH the two
    // tombstones into one r-segment
    val negated = churn.select(col("vec_id"),
      transform(col("embedding"), x => -x).as("embedding"))
    assert(IvfIndex.upsert(spark, dir, negated, "vec_id", "embedding", cap) == 2)
    assert(IvfIndex.upsert(spark, dir, churn, "vec_id", "embedding", cap) == 3)
    // the size-tiered fold keeps the corpus base OUT of the merge:
    // the churn s-segments fold to r00003, the base keeps the masked
    // originals, and the tombstones stay live to mask them
    assert(IvfIndex.readSegments(spark, dir, 3) == Seq("r00001", "r00003"))
    assert(IvfIndex.readTombstones(spark, dir, 3).nonEmpty,
      "tombstones must stay while the kept base holds masked copies")
    // the fold output holds each churned id ONCE, the latest vector
    val rawF = spark.read.parquet(s"$dir/segments/r00003")
      .select(col("vec_id"), col("embedding")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.toSeq).toMap
    assert(rawF.keySet == churn.collect().map(_.getLong(0)).toSet)
    assert(rawF.values.forall(_.size == 1), "masked copy survived the fold")
    // maintenance compact folds EVERYTHING: tombstones retire, the
    // physical state holds each id ONCE with its latest vector
    assert(IvfIndex.compact(spark, dir) == 4)
    assert(IvfIndex.readSegments(spark, dir, 4) == Seq("r00004"))
    assert(IvfIndex.readTombstones(spark, dir, 4).isEmpty,
      "tombstones must retire when every masked segment folds")
    val raw = spark.read.parquet(s"$dir/segments/r00004")
      .select(col("vec_id"), col("embedding")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.toSeq).toMap
    assert(raw.size == emb.count(), "row lost or duplicated in the fold")
    assert(raw.values.forall(_.size == 1), "masked copy survived the fold")
    val orig = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    churn.collect().map(_.getLong(0)).foreach { id =>
      assert(raw(id).head.getSeq[Float](1) == orig(id),
        s"churned id $id does not carry its latest vector")
    }
    // the d-datasets are still referenced by v2/v3; after gc to the
    // tombstone-free v4 they are orphans and must be reaped
    val tombsDir = java.nio.file.Paths.get(s"$dir/tombs")
    assert(java.nio.file.Files.list(tombsDir).count() == 2)
    IvfIndex.gc(spark, dir, retainLast = 1)
    assert(!java.nio.file.Files.exists(tombsDir)
      || java.nio.file.Files.list(tombsDir).count() == 0)
  }

  test("delete of absent ids: version advances, no tombstone, probes identical") {
    val dir = tmp("ivf_del_noop")
    IvfIndex.build(spark, emb, "vec_id", "embedding", dir, cfg)
    val q = emb.filter(col("vec_id") < 10)
    val pre = topKSet(IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5))
    import spark.implicits._
    val ghost = Seq(999999L, 888888L).toDF("vec_id")
    assert(IvfIndex.delete(spark, dir, ghost, "vec_id") == 2)
    // unlike TermIndex (whose doc stats make the liveness check free),
    // IvfIndex records the tombstone without checking liveness — it
    // masks nothing, probes are unchanged, and the next compaction
    // retires it
    assert(topKSet(IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5)) == pre)
    IvfIndex.compact(spark, dir)
    assert(IvfIndex.readTombstones(spark, dir, 3).isEmpty)
    assert(topKSet(IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 5)) == pre)
  }

  test("maintenance compact: tombstones fold physically, probes pair-identical, space reclaimed") {
    val dir = tmp("ivf_maint")
    IvfIndex.build(spark, emb, "vec_id", "embedding", dir, cfg)
    val delIds = emb.filter(col("vec_id") % 3 === 0).select("vec_id")
    IvfIndex.delete(spark, dir, delIds, "vec_id")
    val q = emb.filter(col("vec_id") < 10)
    val pre = IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(IvfIndex.compact(spark, dir) == 3)
    assert(IvfIndex.readSegments(spark, dir, 3) == Seq("r00003"))
    assert(IvfIndex.readTombstones(spark, dir, 3).isEmpty)
    // physical: the fold holds exactly the live rows
    val raw = spark.read.parquet(s"$dir/segments/r00003")
      .select("vec_id").collect().map(_.getLong(0))
    assert(raw.length == emb.filter(col("vec_id") % 3 =!= 0).count())
    assert(!raw.exists(_ % 3 == 0), "tombstoned row survived the fold")
    val post = IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(post == pre, "compaction changed probe results")
    IvfIndex.gc(spark, dir, retainLast = 1)
    val tombsDir = java.nio.file.Paths.get(s"$dir/tombs")
    assert(!java.nio.file.Files.exists(tombsDir)
      || java.nio.file.Files.list(tombsDir).count() == 0)
  }

  test("IVF-PQ probes respect tombstones (ADC and re-rank stages)") {
    val dir = tmp("ivfpq_del")
    val pqCfg = cfg.copy(pq = Some(IvfIndex.PqConfig(m = 8, ksub = 16)))
    IvfIndex.build(spark, emb, "vec_id", "embedding", dir, pqCfg)
    val delIds = emb.filter(col("vec_id") % 3 === 0).select("vec_id")
    val delSet = delIds.collect().map(_.getLong(0)).toSet
    IvfIndex.delete(spark, dir, delIds, "vec_id")
    val q = emb.filter(col("vec_id") < 10)
    val res = IvfIndex.topK(spark, dir, q, "vec_id", "embedding", 20,
      nProbe = 8).collect()
    assert(res.nonEmpty)
    assert(!res.exists(r => delSet.contains(r.getLong(2))),
      "PQ probe answered a tombstoned id")
  }

  test("gc: old versions and unreferenced segments reaped; retained versions replayable") {
    val dir = tmp("ivf_gc")
    val tight = cfg.copy(maxImbalance = 1.5)
    val b0 = emb.filter(col("vec_id") % 5 =!= 0)
    IvfIndex.build(spark, b0, "vec_id", "embedding", dir, tight)
    // balanced append (v2) — same distribution, stays balanced
    val b1 = emb.filter(col("vec_id") % 5 === 0)
    IvfIndex.append(spark, dir, b1, "vec_id", "embedding", tight)
    // maintenance compaction (v3) — folds everything into r00003,
    // stranding s00001/s00002 once their versions retire
    val v3 = IvfIndex.compact(spark, dir)
    assert(v3 == 3)
    val q = emb.filter(col("vec_id") < 10)
    val atV3 = topKSet(IvfIndex.topKAt(spark, dir, 3, q, "vec_id", "embedding", 5))
    IvfIndex.gc(spark, dir, retainLast = 1)
    // stranded segments and old version dirs are gone
    val segNames = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$dir/segments")).toArray
      .map(_.toString.split("/").last).toSet
    assert(segNames == Set("r00003"), segNames)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/v00001")))
    // gc'd version: clear retention error, not a parquet path error
    val e = intercept[IllegalArgumentException] {
      IvfIndex.topKAt(spark, dir, 1, q, "vec_id", "embedding", 5)
    }
    assert(e.getMessage.contains("gc"), e.getMessage)
    // the retained version replays identically
    assert(topKSet(IvfIndex.topKAt(spark, dir, 3, q, "vec_id", "embedding", 5))
      == atV3)
  }

  // synthetic two-cluster corpus for the split-semantics tests below:
  // cluster X near [10,0,·,·], cluster Y near [0,10,·,·], deterministic
  // per-id jitter in the trailing dims so k-means can spread sub-lists.
  // Cluster membership alternates by id parity because trainCentroids
  // seeds from the FIRST nList rows by id — ids 0 (X) and 1 (Y) give
  // one seed per cluster, so the 2-means recovers the clusters instead
  // of a jitter-dim local optimum.
  private def clusterVec(axis: Int, i: Int): Array[Float] = {
    val v = Array.fill(4)(0f)
    v(axis) = 10f
    v(2) = (i % 7) * 0.1f
    v(3) = (i % 5) * 0.1f
    v
  }
  private def twoClusters: Seq[(Long, Array[Float])] =
    (0L until 40L).map(i =>
      (i, clusterVec(if (i % 2 == 0) 0 else 1, i.toInt)))

  test("split preserves a duplicate id's live copy in a NON-hot list (list-scoped e-tombstones)") {
    import spark.implicits._
    val dir = tmp("ivf_duplist")
    val cfg2 = IvfIndex.Config(dim = 4, nList = 2, iters = 2,
      maxImbalance = 1.5, maxSegments = 100, smallRowsPerList = 0)
    IvfIndex.build(spark, twoClusters.toDF("id", "vec"), "id", "vec", dir,
      cfg2)
    // plain appends of the SAME id into two different lists — the
    // duplicate-id shape plain append permits (no tombstone): one copy
    // near cluster Y, then one near cluster X
    val vecY = Array(0f, 10f, 0.5f, 0f)
    val vecX = Array(10f, 0f, 0.5f, 0f)
    IvfIndex.append(spark, dir, Seq((999L, vecY)).toDF("id", "vec"),
      "id", "vec", cfg2)
    IvfIndex.append(spark, dir, Seq((999L, vecX)).toDF("id", "vec"),
      "id", "vec", cfg2)
    // skew cluster X hot: 60 more X-side rows → X list mass 81 of 102,
    // over the 1.5× cap → the guard splits the X list; id 999's X-side
    // copy is rewritten into the t-segment and its old copy masked by
    // the split's e-tombstone
    val b3 = (200L until 260L).map(i => (i, clusterVec(0, i.toInt * 2)))
    val v4 = IvfIndex.append(spark, dir, b3.toDF("id", "vec"),
      "id", "vec", cfg2)
    val c4 = IvfIndex.readCentroids(spark, dir, v4)
    assert(c4.length > 2, "the X list must have split")
    assert(IvfIndex.readSegments(spark, dir, v4).exists(_.startsWith("t")),
      "split must have rewritten the hot list")
    // THE regression (ADVICE r10): a bare-id e-tombstone would also
    // mask 999's Y-side copy sitting in a non-hot list of an older
    // segment. List-scoped tombstones keep it live: BOTH copies answer.
    def neighbors(qv: Array[Float]): Set[Long] =
      IvfIndex.topK(spark, dir, Seq((5000L, qv)).toDF("id", "vec"),
        "id", "vec", k = 3, nProbe = c4.length)
        .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(neighbors(vecY).contains(999L),
      "the Y-side duplicate copy must survive the X-list split")
    assert(neighbors(vecX).contains(999L),
      "the X-side copy must be rewritten live into the t-segment")
    // no row lost or duplicated: manifest mass = 20+20+1+1+60
    assert(IvfIndex.readCounts(spark, dir, v4).values.sum == 102L,
      IvfIndex.readCounts(spark, dir, v4).toString)
  }

  test("health: frozen lists are reported with their mass; probes on a frozen list stay exact and list-pruned") {
    import spark.implicits._
    val dir = tmp("ivf_health")
    val cfg2 = IvfIndex.Config(dim = 4, nList = 2, iters = 2,
      maxImbalance = 1.5, maxSegments = 100, smallRowsPerList = 0)
    IvfIndex.build(spark, twoClusters.toDF("id", "vec"), "id", "vec", dir,
      cfg2)
    val h0 = IvfIndex.health(spark, dir)
    assert(h0.frozenLists == 0 && h0.frozenMass == 0L &&
      h0.totalMass == 40L && h0.lists == 2, h0.toString)
    // an adversarial clump: 200 IDENTICAL vectors — k-means cannot
    // spread them, the split's sub-list stays over the cap and freezes
    val clump = (300L until 500L).map(i => (i, Array(0f, 0f, 10f, 0f)))
    val v2 = IvfIndex.append(spark, dir, clump.toDF("id", "vec"),
      "id", "vec", cfg2)
    assert(IvfIndex.readFrozen(spark, dir, v2).nonEmpty, "clump must freeze")
    val h2 = IvfIndex.health(spark, dir)
    assert(h2.frozenLists >= 1, h2.toString)
    assert(h2.frozenMass >= 200L, s"the clump's mass must be frozen: $h2")
    assert(h2.totalMass == 240L, h2.toString)
    assert(h2.frozenMassFraction >= 200.0 / 240.0 - 1e-9 &&
      h2.frozenMassFraction <= 1.0, h2.toString)
    // probe cost on the frozen list is bounded by (and only by) its
    // mass: an nProbe=1 probe at the clump reads ONLY the probed list
    // directories (partition filters present, listed dirs ≤ probed
    // lists per segment) and still answers exactly
    val df = IvfIndex.topKAtScan(spark, dir, IvfIndex.latestVersion(spark, dir),
      Seq((5000L, Array(0f, 0f, 10f, 0f))).toDF("id", "vec"),
      "id", "vec", k = 5, nProbe = 1)
    val rows = df.collect()
    assert(rows.length == 5 && rows.forall(_.getLong(2) >= 300L),
      "frozen-list probe must answer from the clump exactly")
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case r: ReusedExchangeExec => scans(r.child)
    }.flatten
    val segScans = scans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/segments/")))
    assert(segScans.nonEmpty)
    segScans.foreach { s =>
      assert(s.partitionFilters.exists(_.references.exists(_.name == "list_id")),
        "frozen-list probe must stay partition-pruned")
      assert(s.metrics("numPartitions").value <= 1,
        s"nProbe=1 must list at most one list dir per segment: $s")
    }
    // remediation contract: retrain clears the frozen set and health
    // reflects it
    IvfIndex.retrain(spark, dir, cfg2)
    val h3 = IvfIndex.health(spark, dir)
    assert(h3.frozenLists == 0 && h3.frozenMass == 0L, h3.toString)
    assert(h3.totalMass == 240L, h3.toString)
  }
}
