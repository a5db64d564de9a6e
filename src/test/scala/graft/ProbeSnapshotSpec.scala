package graft

import graft.functions.{TextFunctions => TF}
import graft.operators.{IvfIndex, ProbeCostExceededException, Retrieval, TermIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The driver-side probe snapshots of TermIndex and the exact IvfIndex
 * against the Spark scan path they stand in for: equal rows, equal
 * probe cost and gate decision, at every version a CDC stream leaves
 * behind — and the cache's validity rules (gc, a rebuilt directory,
 * concurrent probes).
 */
class ProbeSnapshotSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private val Dim = 64
  private val K = 5

  private def docs: DataFrame = Tables.load(spark, sf, "documents")
    .select(col("doc_id"), col("text"))
  private def emb: DataFrame = Tables.load(spark, sf, "embeddings")
    .select(col("vec_id").as("doc_id"), col("embedding"))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  /** Search-shaped probes (3-token windows of live docs, fresh ids),
    * two whole-document probes, and the edge rows: an id on two rows,
    * empty and null text, and terms no doc holds. */
  private def textProbes(d: DataFrame): DataFrame = {
    import spark.implicits._
    d.filter(col("doc_id") % 37 === 4)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat_ws(" ", slice(TF.tokens(col("text")), 2, 3)).as("text"))
      .unionByName(d.filter(col("doc_id").isin(11L, 12L))
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      .unionByName(Seq[(Long, String)]((300000L, "the of and"),
        (300000L, "data model"), (300001L, ""), (300002L, null),
        (300003L, "zzunseen qqnever")).toDF("doc_id", "text"))
  }

  private def vecProbes(e: DataFrame): DataFrame =
    e.filter(col("doc_id") % 29 === 3)

  private def termRows(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSet

  private def ivfRows(df: DataFrame): Set[(Long, Int, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getDouble(3))).toSet

  private val exact = TermIndex.Config(buckets = 4, maxSegments = 3,
    maxCandidateFraction = TermIndex.ExactUnbounded)

  /** TermIndex at `v`: the snapshot serves (does not decline), its rows
    * equal the scan's, and so do the probe cost and, with `gate`, the
    * gate's decision just below and at the batch's price. */
  private def checkTerm(dir: String, v: Int, probes: DataFrame,
                        gate: Boolean = true): Unit = {
    val lp = TermIndex.localProbe(spark, dir, v, probes, "doc_id", "text",
      exact, TF.tokens)
    assert(lp.isDefined, s"v$v: snapshot declined")
    // a batch is scored in the driver up to its walk bound, no further
    def walkBound(w: Long) = TermIndex.localProbe(spark, dir, v, probes,
      "doc_id", "text", exact, TF.tokens, w)
    assert(walkBound(lp.get.walk).isDefined)
    assert(walkBound(lp.get.walk - 1).isEmpty)
    val scan = termRows(TermIndex.topKAtScan(spark, dir, v, probes,
      "doc_id", "text", K, exact))
    assert(scan.nonEmpty)
    assert(termRows(TermIndex.topKAt(spark, dir, v, probes, "doc_id", "text",
      K, exact)) == scan, s"v$v: snapshot rows != scan rows")
    val cost = TermIndex.estimateProbeCostScan(spark, dir, v, probes,
      "doc_id", "text", exact)
    assert(lp.get.cost == cost, s"v$v: snapshot cost != scan cost")
    assert(TermIndex.estimateProbeCostAt(spark, dir, v, probes, "doc_id",
      "text", exact) == cost)
    if (gate) for (frac <- Seq(cost.candidateFraction / 2,
        cost.candidateFraction)) {
      val gated = exact.copy(maxCandidateFraction = frac)
      def outcome(f: => DataFrame): Either[TermIndex.ProbeCost, Set[_]] =
        try Right(termRows(f))
        catch { case e: ProbeCostExceededException => Left(e.cost) }
      val viaScan = outcome(TermIndex.topKAtScan(spark, dir, v, probes,
        "doc_id", "text", K, gated))
      assert(outcome(TermIndex.topKAt(spark, dir, v, probes, "doc_id",
        "text", K, gated)) == viaScan, s"v$v: gate at $frac disagrees")
      assert(viaScan.isLeft == (frac < cost.candidateFraction))
    }
  }

  /** IvfIndex at `v`: the snapshot serves and equals the scan. */
  private def checkIvf(dir: String, v: Int, q: DataFrame,
                       nProbes: Seq[Int] = Seq(2, 8)): Unit =
    for (nProbe <- nProbes) {
      assert(IvfIndex.localTopK(spark, dir, v, q, "doc_id", "embedding", K,
        nProbe).isDefined, s"v$v: snapshot declined")
      assert(IvfIndex.localTopK(spark, dir, v, q, "doc_id", "embedding", K,
        nProbe, maxWalk = 0L).isEmpty, s"v$v: walk bound ignored")
      val scan = ivfRows(IvfIndex.topKAtScan(spark, dir, v, q, "doc_id",
        "embedding", K, nProbe))
      assert(scan.nonEmpty)
      assert(ivfRows(IvfIndex.topKAt(spark, dir, v, q, "doc_id",
        "embedding", K, nProbe)) == scan,
        s"v$v nProbe=$nProbe: snapshot rows != scan rows")
    }

  /** What hybridRrfIndexed serves equals reciprocal-rank fusion, as
    * Retrieval documents it, of the two scan legs. */
  private def checkHybrid(tDir: String, iDir: String, pt: DataFrame,
                          pv: DataFrame): Unit = {
    val legs = Seq(
      TermIndex.topKAtScan(spark, tDir, TermIndex.latestVersion(spark, tDir),
        pt, "doc_id", "text", 10, exact)
        .select(col("probe_id"), col("doc_id"), col("rank")),
      IvfIndex.topKAtScan(spark, iDir, IvfIndex.latestVersion(spark, iDir),
        pv, "doc_id", "embedding", 10, 4)
        .select(col("query_id"), col("neighbor_id"), col("rnk").cast("long")))
      .flatMap(_.collect().map(r => ((r.getLong(0), r.getLong(1)),
        1000000L / (60L + r.getLong(2)))))
    val want = legs.groupMapReduce(_._1)(_._2)(_ + _).toSeq
      .groupBy(_._1._1).values.flatMap { ds =>
        ds.sortBy { case ((_, d), s) => (-s, d) }.take(3).zipWithIndex
          .map { case (((p, d), s), i) => (p, i + 1L, d, s) }
      }.toSet
    val got = termRows(Retrieval.hybridRrfIndexed(spark, tDir, iDir, pt, pv,
      "doc_id", "text", "embedding", kInner = 10, k = 3, termCfg = exact))
    assert(got == want)
  }

  test("snapshot == scan across build, CDC upserts and deletes, tier " +
    "compaction, coalesced tombstones and gc") {
    val tDir = tmp("snap_term")
    val iDir = tmp("snap_ivf")
    val iCfg = IvfIndex.Config(dim = Dim, nList = 8, iters = 2,
      maxSegments = 3)
    val d = docs.persist()
    val e = emb.persist()
    TermIndex.build(spark, d.filter(col("doc_id") < 400), "doc_id", "text",
      tDir, exact)
    IvfIndex.build(spark, e.filter(col("doc_id") < 400), "doc_id",
      "embedding", iDir, iCfg)
    checkTerm(tDir, 1, textProbes(d))
    checkIvf(iDir, 1, vecProbes(e))
    var termNames = Set.empty[String]
    var ivfNames = Set.empty[String]
    // with maxSegments = 3 the fourth commit folds the batch tier and
    // coalesces the three tombstone sets the kept base still needs
    (1 to 5).foreach { i =>
      // revisions under their own id, fresh ids, deletes
      val revised = col("doc_id") % 13 === i % 13 && col("doc_id") < 400
      val fresh = col("doc_id").between(400 + 12 * (i - 1), 399 + 12 * i)
      val dels = d.filter(col("doc_id") % 17 === (i + 5) % 17 &&
        col("doc_id") < 400 && !revised).select("doc_id")
      val upText = d.filter(revised)
        .select(col("doc_id"), concat_ws(" ", lit(s"rev$i"), col("text"))
          .as("text"))
        .unionByName(d.filter(fresh))
      val upEmb = e.filter(revised)
        .select(col("doc_id"), reverse(col("embedding")).as("embedding"))
        .unionByName(e.filter(fresh))
      val tv = TermIndex.applyCdc(spark, tDir, upText, dels, "doc_id",
        "text", exact)
      TermIndex.gc(spark, tDir, retainLast = 2)
      val iv = IvfIndex.applyCdc(spark, iDir, upEmb, dels, "doc_id",
        "embedding", iCfg)
      IvfIndex.gc(spark, iDir, retainLast = 2)
      termNames ++= TermIndex.readManifest(spark, tDir, tv).map(_._1) ++
        TermIndex.readTombstones(spark, tDir, tv)._2
      ivfNames ++= IvfIndex.readSegments(spark, iDir, iv) ++
        IvfIndex.readTombstones(spark, iDir, iv)
      // the latest version, and the older one gc retained
      checkTerm(tDir, tv, textProbes(d))
      checkTerm(tDir, tv - 1, textProbes(d), gate = false)
      checkIvf(iDir, iv, vecProbes(e))
      checkIvf(iDir, iv - 1, vecProbes(e), Seq(8))
      // the two legs' probes share ids
      checkHybrid(tDir, iDir, textProbes(d).filter(col("doc_id") < 200000L),
        e.filter(col("doc_id") % 37 === 4)
          .select((col("doc_id") + 100000L).as("doc_id"), col("embedding")))
    }
    // the walk reached tier compaction (an r segment past the build's)
    // and coalesced tombstones in both families
    for ((fam, names) <- Seq("term" -> termNames, "ivf" -> ivfNames)) {
      assert(names.exists(n => n.startsWith("r") && n != "r00001"),
        s"$fam: no tier compaction: $names")
      assert(names.exists(_.startsWith("c")),
        s"$fam: no coalesced tombstones: $names")
    }
    d.unpersist()
    e.unpersist()
  }

  test("a gc-removed version fails loudly while its segments are cached") {
    val tDir = tmp("snap_gc_term")
    val iDir = tmp("snap_gc_ivf")
    val iCfg = IvfIndex.Config(dim = Dim, nList = 8, iters = 2)
    val d = docs
    val e = emb
    TermIndex.build(spark, d.filter(col("doc_id") < 400), "doc_id", "text",
      tDir, exact)
    IvfIndex.build(spark, e.filter(col("doc_id") < 400), "doc_id",
      "embedding", iDir, iCfg)
    // warm: v1's base segment is cached, and v2 keeps referencing it
    TermIndex.topKAt(spark, tDir, 1, textProbes(d), "doc_id", "text", K,
      exact).collect()
    IvfIndex.topKAt(spark, iDir, 1, vecProbes(e), "doc_id", "embedding", K)
      .collect()
    TermIndex.append(spark, tDir, d.filter(col("doc_id") >= 400), "doc_id",
      "text", exact)
    IvfIndex.append(spark, iDir, e.filter(col("doc_id") >= 400), "doc_id",
      "embedding", iCfg)
    TermIndex.gc(spark, tDir, retainLast = 1)
    IvfIndex.gc(spark, iDir, retainLast = 1)
    assert(TermIndex.readManifest(spark, tDir, 2).exists(_._1 == "r00001"))
    assert(IvfIndex.readSegments(spark, iDir, 2).contains("r00001"))
    val et = intercept[IllegalArgumentException] {
      TermIndex.topKAt(spark, tDir, 1, textProbes(d), "doc_id", "text", K,
        exact)
    }
    assert(et.getMessage.contains("garbage-collected"), et.getMessage)
    val ei = intercept[IllegalArgumentException] {
      IvfIndex.topKAt(spark, iDir, 1, vecProbes(e), "doc_id", "embedding", K)
    }
    assert(ei.getMessage.contains("dropped by gc"), ei.getMessage)
    // the retained version still serves from the cache, exactly
    checkTerm(tDir, 2, textProbes(d))
    checkIvf(iDir, 2, vecProbes(e))
  }

  test("an index directory deleted and rebuilt at the same path serves " +
    "the new rows") {
    val tDir = tmp("snap_rebuild_term")
    val iDir = tmp("snap_rebuild_ivf")
    val iCfg = IvfIndex.Config(dim = Dim, nList = 8, iters = 2)
    val d = docs
    val e = emb
    TermIndex.build(spark, d, "doc_id", "text", tDir, exact)
    IvfIndex.build(spark, e, "doc_id", "embedding", iDir, iCfg)
    val oldT = termRows(TermIndex.topKAt(spark, tDir, 1, textProbes(d),
      "doc_id", "text", K, exact))
    val oldI = ivfRows(IvfIndex.topKAt(spark, iDir, 1, vecProbes(e),
      "doc_id", "embedding", K))
    for (dir <- Seq(tDir, iDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // same paths, same version numbers and segment names, new content
    val d2 = d.select(col("doc_id"),
      concat_ws(" ", reverse(TF.tokens(col("text"))), lit("rebuilt"))
        .as("text"))
    TermIndex.build(spark, d2.filter(col("doc_id") % 2 === 0), "doc_id",
      "text", tDir, exact)
    IvfIndex.build(spark, e.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), reverse(col("embedding")).as("embedding")),
      "doc_id", "embedding", iDir, iCfg)
    val newT = termRows(TermIndex.topKAt(spark, tDir, 1, textProbes(d),
      "doc_id", "text", K, exact))
    val newI = ivfRows(IvfIndex.topKAt(spark, iDir, 1, vecProbes(e),
      "doc_id", "embedding", K))
    assert(newT != oldT && newI != oldI)
    assert(newT.forall(_._3 % 2 == 0) && newI.forall(_._3 % 2 == 0),
      "rows of the deleted index were served")
    checkTerm(tDir, 1, textProbes(d))
    checkIvf(iDir, 1, vecProbes(e))
  }

  test("two threads probing at once get the right answers") {
    val tDir = tmp("snap_threads_term")
    val iDir = tmp("snap_threads_ivf")
    val iCfg = IvfIndex.Config(dim = Dim, nList = 8, iters = 2)
    val d = docs
    val e = emb
    TermIndex.build(spark, d.filter(col("doc_id") < 300), "doc_id", "text",
      tDir, exact)
    TermIndex.append(spark, tDir, d.filter(col("doc_id") >= 300), "doc_id",
      "text", exact)
    IvfIndex.build(spark, e.filter(col("doc_id") < 300), "doc_id",
      "embedding", iDir, iCfg)
    IvfIndex.append(spark, iDir, e.filter(col("doc_id") >= 300), "doc_id",
      "embedding", iCfg)
    // two different probe batches, answers from the scan path
    val pt = Seq(textProbes(d).filter(col("doc_id") % 2 === 0),
      textProbes(d).filter(col("doc_id") % 2 === 1))
    val pv = Seq(vecProbes(e).filter(col("doc_id") % 2 === 0),
      vecProbes(e).filter(col("doc_id") % 2 === 1))
    val want = (0 to 1).map(j =>
      (termRows(TermIndex.topKAtScan(spark, tDir, 2, pt(j), "doc_id", "text",
        K, exact)),
        ivfRows(IvfIndex.topKAtScan(spark, iDir, 2, pv(j), "doc_id",
          "embedding", K, 4))))
    // both threads start on a cold cache and load the same segments
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (0 to 1).map(j => pool.submit(
        new java.util.concurrent.Callable[Seq[Boolean]] {
          def call(): Seq[Boolean] = (1 to 4).map { _ =>
            termRows(TermIndex.topKAt(spark, tDir, 2, pt(j), "doc_id", "text",
              K, exact)) == want(j)._1 &&
              ivfRows(IvfIndex.topKAt(spark, iDir, 2, pv(j), "doc_id",
                "embedding", K, 4)) == want(j)._2
          }
        }))
      futures.zipWithIndex.foreach { case (f, j) =>
        assert(f.get(5, java.util.concurrent.TimeUnit.MINUTES).forall(identity),
          s"thread $j got a wrong answer")
      }
    } finally pool.shutdown()
  }
}
