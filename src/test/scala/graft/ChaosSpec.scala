package graft

import graft.sources.Cache
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Executor-side chaos state. A JVM singleton: in local mode every
  * "executor" thread sees the same instance, so tests can record what
  * happened inside tasks and make each partition fail exactly once. */
object ChaosState {
  import java.util.concurrent._
  val events = new ConcurrentLinkedQueue[(Int, Boolean)]() // (shard, failed)
  val failedOnce: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val computedRows = new atomic.AtomicLong(0L)
  def clear(): Unit = { events.clear(); failedOnce.clear(); computedRows.set(0L) }
  /** Throw once per (tag, partition) — the chaos injection. */
  def failFirst(tag: String): Unit =
    if (failedOnce.add(s"$tag-${TaskContext.getPartitionId()}"))
      throw new RuntimeException(s"chaos: injected failure [$tag]")
}

/**
 * Retry-semantics under task re-execution — chaosmonkey-lite
 * (reference: exec/chaosmonkey_test.go:45-235 randomly kills workers
 * and asserts evaluation converges; Spark's scheduler provides the
 * re-execution, these tests prove OUR operators' side-effect contracts
 * hold under it). Runs on its own `local[4, 2]` context (maxFailures=2
 * — local mode only retries when the master string says so); every
 * partition's first attempt is killed, the retry must converge.
 *
 * Contracts proven:
 *  - writerFunc's error channel: failed attempt → exactly one
 *    onDone(shard, Some(_)); the retry → exactly one onDone(shard,
 *    None); results unchanged (slice.go:434-440's final err call).
 *  - cachePartial: a killed write attempt never commits (temp dropped
 *    by the completion listener, terminator never written); the retry
 *    commits exactly one consistent file per shard; a second run
 *    replays from cache without recomputing upstream.
 *  - Metrics counters: bumps from failed attempts are discarded —
 *    counts are exact when incremented in an action's final stage.
 */
class ChaosSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    // this suite needs its own context (retries enabled); suites run
    // sequentially in the forked JVM, so swapping contexts at suite
    // boundaries is safe
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[4, 2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def rows(n: Int, parts: Int) =
    spark.range(0, n, 1, parts).toDF("v")

  test("writerFunc fires onDone(Some) for the killed attempt, onDone(None) for the retry") {
    ChaosState.clear()
    val parts = 4
    val s = Slice(rows(1000, parts)).writerFunc(
      f = (shard, it) => it.map { r => ChaosState.failFirst("wf"); r },
      onDone = (shard, err) => ChaosState.events.add((shard, err.isDefined)))
    assert(s.count() == 1000L) // retries converge, rows intact
    val byShard = {
      import scala.jdk.CollectionConverters._
      ChaosState.events.asScala.toSeq.groupBy(_._1)
    }
    assert(byShard.keySet == (0 until parts).toSet, byShard)
    byShard.foreach { case (shard, evs) =>
      assert(evs.count(_._2) == 1, s"shard $shard: expected 1 failure event, got $evs")
      assert(evs.count(!_._2) == 1, s"shard $shard: expected 1 success event, got $evs")
    }
  }

  test("cachePartial: killed attempts never commit; retry commits one consistent file per shard") {
    ChaosState.clear()
    val dir = java.nio.file.Files.createTempDirectory("graft_chaos_cache").toString
    val parts = 4
    implicit val le: org.apache.spark.sql.Encoder[java.lang.Long] =
      org.apache.spark.sql.Encoders.LONG
    val upstream = Slice(rows(400, parts)).filterF[java.lang.Long] { _ =>
      ChaosState.failFirst("cp")
      ChaosState.computedRows.incrementAndGet()
      true
    }
    val cached = Cache.cachePartial(upstream, dir)
    val first = cached.df.agg(sum("v")).collect()(0).getLong(0)
    assert(first == (0L until 400L).sum)
    val afterFirst = ChaosState.computedRows.get()
    assert(afterFirst >= 400L, "each row computed at least once")
    // exactly one committed file per shard, no leftover temp files
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString)
    assert(files.count(_.endsWith(".bin")) == parts, files.toSeq)
    assert(!files.exists(_.endsWith(".tmp")), files.toSeq)
    // second run replays from cache: same rows, upstream NOT recomputed
    val second = cached.df.agg(sum("v")).collect()(0).getLong(0)
    assert(second == first)
    assert(ChaosState.computedRows.get() == afterFirst,
      "replay recomputed upstream rows")
  }

  test("counter bumps from killed attempts are discarded — final count exact") {
    ChaosState.clear()
    val s = Slice(rows(500, 4))
    val c = s.counter("chaos_rows")
    implicit val le: org.apache.spark.sql.Encoder[java.lang.Long] =
      org.apache.spark.sql.Encoders.LONG
    val counted = s.filterF[java.lang.Long] { _ =>
      ChaosState.failFirst("ctr")
      c.incr()
      true
    }
    assert(counted.count() == 500L)
    assert(c.value == 500L,
      s"counter must be exact despite retries, got ${c.value}")
  }

  test("indexed streaming ingest: redelivery re-emits identical pairs, torn ingest recovers, divergence fails fast") {
    import graft.operators.{Dedup, MinhashIndex}
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_chaos_idx").toString + "/idx"
    val cfg = MinhashIndex.Config()
    // drive the EXACT foreachBatch body nearDupStreamIndexed runs, so
    // crash points between the index commit and the stream checkpoint
    // commit can be exercised deterministically
    def run(batch: org.apache.spark.sql.DataFrame, bid: Long): Set[(Long, Long)] = {
      val buf = scala.collection.mutable.Set[(Long, Long)]()
      graft.streaming.Streams.nearDupIndexedBatch(
        batch, bid, "doc_id", "text", idxDir, cfg, retainVersions = 2) {
        (pairs, _) =>
          buf ++= pairs.select("a", "b").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
      }
      buf.toSet
    }
    val p0 = run(b0, 0L)
    assert(MinhashIndex.latestVersion(spark, idxDir) == 2)
    // crash AFTER the index committed v2 but BEFORE the checkpoint
    // commit: the stream redelivers batch 0. The replay branch must
    // re-emit the identical pairs read-only — version unchanged.
    val p0replay = run(b0, 0L)
    assert(p0replay == p0, "replay must re-emit the original pairs")
    assert(MinhashIndex.latestVersion(spark, idxDir) == 2,
      "replay must never double-ingest")
    // torn ingest: batch 1 dies between the version-dir data writes
    // and the LATEST flip. Simulate the state such a crash leaves
    // (partial v3 data, LATEST still 2), then redeliver batch 1: the
    // fresh-ingest branch must overwrite the partial version cleanly.
    val torn = java.nio.file.Paths.get(s"$idxDir/v00003/docs")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.write(torn.resolve("part-junk.parquet"),
      "not parquet".getBytes)
    val p1 = run(b1, 1L)
    assert(MinhashIndex.latestVersion(spark, idxDir) == 3)
    // the union of per-batch emissions equals the batch-mode pairs of
    // the full corpus — the stream lost nothing across the faults
    val want = Dedup.minhashDupPairs(docs, "doc_id", "text")
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "fixture should contain near-dup pairs")
    assert((p0 ++ p1) == want)
    // divergent state (batch id far ahead of the index — e.g. the
    // index was rolled back under a live checkpoint) fails fast
    // instead of silently misclassifying as fresh or replayed
    intercept[IllegalStateException] { run(b1, 5L) }
    // gc (retainVersions=2 dropped v1 at batch 1's commit): probing a
    // gc'd version fails with the retention message, not a raw
    // parquet path error
    val e = intercept[IllegalArgumentException] {
      MinhashIndex.incrementalDupPairsAt(
        spark, idxDir, 1, b1, "doc_id", "text", cfg)
    }
    assert(e.getMessage.contains("gc"), e.getMessage)
  }

  test("out-of-band gc under a live checkpoint: pre-state-replay families fail fast, own-version families re-emit exactly") {
    // A long-lived pipeline's operator runs gc(retainLast = 1) by hand
    // while the stream checkpoint still pins a batch↔version pairing.
    // The two pair-emitting families replay against the PRE-ingest
    // version — now gone — and must fail with the retention message
    // (never silently recompute against the wrong state); the two
    // topK-emitting families replay against the batch's OWN version,
    // which gc always retains, and must re-emit identically.
    import graft.operators.{DigestIndex, IvfIndex, MinhashIndex, TermIndex}
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val b0d = docs.filter(col("doc_id") % 2 === 0)
    val b1d = docs.filter(col("doc_id") % 2 === 1)

    // MinhashIndex (near-dup pairs): replay probes expected-1
    val mhDir = java.nio.file.Files
      .createTempDirectory("graft_chaos_gc_mh").toString + "/idx"
    val mhCfg = MinhashIndex.Config()
    def mhRun(b: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      graft.streaming.Streams.nearDupIndexedBatch(
        b, bid, "doc_id", "text", mhDir, mhCfg, retainVersions = 2) {
        (p, _) => p.count(); ()
      }
    mhRun(b0d, 0L); mhRun(b1d, 1L)
    MinhashIndex.gc(spark, mhDir, retainLast = 1)
    val eMh = intercept[IllegalArgumentException] { mhRun(b1d, 1L) }
    assert(eMh.getMessage.contains("gc"), eMh.getMessage)

    // DigestIndex (exact-dedup pairs): replay probes expected-1
    val dxDir = java.nio.file.Files
      .createTempDirectory("graft_chaos_gc_dx").toString + "/idx"
    val dxCfg = DigestIndex.Config()
    def dxRun(b: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      graft.streaming.Streams.exactDedupIndexedBatch(
        b, bid, "doc_id", "text", dxDir, dxCfg, retainVersions = 2) {
        (p, _) => p.count(); ()
      }
    dxRun(b0d, 0L); dxRun(b1d, 1L)
    DigestIndex.gc(spark, dxDir, retainLast = 1)
    val eDx = intercept[IllegalArgumentException] { dxRun(b1d, 1L) }
    assert(eDx.getMessage.contains("garbage-collected"), eDx.getMessage)

    // IvfIndex (ANN topK): replay probes the batch's OWN version —
    // retained by any gc — so redelivery after the manual gc must
    // still re-emit the identical results
    val annDir = java.nio.file.Files
      .createTempDirectory("graft_chaos_gc_ann").toString + "/idx"
    val annCfg = IvfIndex.Config(dim = 64, nList = 4, iters = 1)
    var annOut: Set[(Long, Long, Long)] = Set.empty
    def annRun(b: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      graft.streaming.Streams.annIndexedBatch(
        b, bid, "vec_id", "embedding", annDir, annCfg, k = 3, nProbe = 2,
        retainVersions = 2) { (t, _) =>
        annOut = t.collect()
          .map(r => (r.getLong(0), r.get(1).toString.toLong,
            r.getLong(2))).toSet
      }
    annRun(emb.filter(col("vec_id") % 2 === 0), 0L)
    annRun(emb.filter(col("vec_id") % 2 === 1), 1L)
    val annAt1 = annOut
    IvfIndex.gc(spark, annDir, retainLast = 1)
    annRun(emb.filter(col("vec_id") % 2 === 1), 1L)
    assert(annOut == annAt1,
      "ANN redelivery after out-of-band gc must re-emit identically")

    // TermIndex (BM25 topK): same own-version contract. The wrapper
    // self-probes with the ingested documents (bigram terms →
    // document-shaped), a deliberate exact emission contract — probe
    // gate opted out.
    val tDir = java.nio.file.Files
      .createTempDirectory("graft_chaos_gc_t").toString + "/idx"
    val tCfg = TermIndex.Config(buckets = 4,
      maxCandidateFraction = TermIndex.ExactUnbounded)
    var tOut: Set[(Long, Long, Long, Long)] = Set.empty
    def tRun(b: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      graft.streaming.Streams.retrievalIndexedBatch(
        b, bid, "doc_id", "text", tDir, tCfg, k = 3,
        graft.operators.Terms.bigramTerms, retainVersions = 2) { (t, _) =>
        tOut = t.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      }
    tRun(b0d, 0L); tRun(b1d, 1L)
    val tAt1 = tOut
    TermIndex.gc(spark, tDir, retainLast = 1)
    tRun(b1d, 1L)
    assert(tOut == tAt1,
      "retrieval redelivery after out-of-band gc must re-emit identically")

    // Ivm maintained view (the fifth family): own-version contract —
    // a replayed batch re-emits via groupsAt against the PINNED z-set
    // version, which an out-of-band gc(retainLast=1) always retains
    // (the pinned version IS latest after the original commit)
    import graft.operators.Ivm
    val vDir = java.nio.file.Files
      .createTempDirectory("graft_chaos_gc_v").toString + "/view"
    def vcdc(rows: Seq[(Long, String, Long)], op: String) = {
      val s = spark; import s.implicits._
      rows.toDF("k", "g", "v").withColumn("op", lit(op))
    }
    Ivm.create(spark, vDir,
      vcdc(Seq((1L, "a", 1L)), "x").drop("op").schema,
      Ivm.Spec(Seq("g"), Seq(Ivm.Count("cnt"), Ivm.Sum("v", "sum_v"))),
      nBuckets = 4)
    var vOut: Set[(String, Long, Long)] = Set.empty
    def vRun(b: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      graft.streaming.Streams.cdcViewBatch(b, bid, "op", vDir, 2) {
        (rows, _) =>
          vOut = rows.collect().map(r =>
            (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      }
    vRun(vcdc(Seq((1L, "a", 5L), (2L, "b", 7L)), "insert"), 0L)
    vRun(vcdc(Seq((3L, "a", 9L)), "insert")
      .unionByName(vcdc(Seq((2L, "b", 7L)), "delete")), 1L)
    val vAt1 = vOut
    Ivm.gc(spark, vDir, retainLast = 1)
    vRun(vcdc(Seq((3L, "a", 9L)), "insert")
      .unionByName(vcdc(Seq((2L, "b", 7L)), "delete")), 1L)
    assert(vOut == vAt1,
      "view redelivery after out-of-band gc must re-emit identically")

    // JoinIvm maintained join view (the sixth family): same contract —
    // the re-emit reads the side z-sets at their PINNED post-batch
    // versions (latest after the commit, so gc(retainLast=1) keeps
    // them) and the view's current rows for the touched groups
    import graft.operators.JoinIvm
    val jDir = java.nio.file.Files
      .createTempDirectory("graft_chaos_gc_j").toString + "/view"
    def jev2(fIns: Seq[(Long, Long)], dIns: Seq[(Long, String)],
             dDel: Seq[(Long, String)]) = {
      val s = spark; import s.implicits._
      (fIns.map(r => (r._1, Option(r._2), Option.empty[String],
          "insert", "fact")) ++
        dIns.map(r => (r._1, Option.empty[Long], Option(r._2),
          "insert", "dim")) ++
        dDel.map(r => (r._1, Option.empty[Long], Option(r._2),
          "delete", "dim")))
        .toDF("k", "v", "seg", "op", "side")
    }
    {
      val s = spark; import s.implicits._
      JoinIvm.create(spark, jDir,
        Seq((1L, 1L)).toDF("k", "v").schema,
        Seq((1L, "s")).toDF("k", "seg").schema,
        JoinIvm.Spec(Seq("k"), Seq("seg"),
          Seq(graft.operators.Ivm.Count("cnt"),
            graft.operators.Ivm.Sum("v", "sum_v"))), nBuckets = 4)
    }
    var jOut: Set[(String, Long, Long)] = Set.empty
    def jRun(b: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      graft.streaming.Streams.cdcJoinViewBatch(b, bid, "op", "side",
        jDir, 2) { (rows, _) =>
        jOut = rows.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      }
    jRun(jev2(Seq((1L, 10L), (2L, 20L)), Seq((1L, "sa"), (2L, "sb")),
      Seq.empty), 0L)
    // batch 1: dim reassignment (key 2 → sa) — the fan-out shape
    val jb1 = jev2(Seq((3L, 30L)), Seq((2L, "sa"), (3L, "sb")),
      Seq((2L, "sb")))
    jRun(jb1, 1L)
    val jAt1 = jOut
    JoinIvm.gc(spark, jDir, retainLast = 1)
    jRun(jb1, 1L)
    assert(jOut == jAt1,
      "join-view redelivery after out-of-band gc must re-emit identically")

    // the 7th family under the same chaos: full-agg join view —
    // redelivery after an out-of-band gc must re-emit identically
    val oDir = java.nio.file.Files.createTempDirectory("chaos_ovj")
      .toString + "/view"
    locally {
      val s = spark; import s.implicits._
      graft.operators.IvmOverJoin.create(spark, oDir,
        Seq((1L, 1L)).toDF("k", "v").schema,
        Seq((1L, "s")).toDF("k", "seg").schema,
        graft.operators.IvmOverJoin.Spec(Seq("k"), Seq("seg"),
          Seq(graft.operators.Ivm.Count("cnt"),
            graft.operators.Ivm.Min("v", "min_v"),
            graft.operators.Ivm.Max("v", "max_v"))), nBuckets = 4)
    }
    var oOut: Set[(String, Long, Long, Long)] = Set.empty
    def oRun(b: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      graft.streaming.Streams.cdcFullJoinViewBatch(b, bid, "op", "side",
        oDir, 2) { (rows, _) =>
        oOut = rows.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      }
    oRun(jev2(Seq((1L, 10L), (1L, 5L), (2L, 20L)),
      Seq((1L, "sa"), (2L, "sb")), Seq.empty), 0L)
    // batch 1: dim reassignment + the group minimum retracting via the
    // move — the non-invertible shape, replayed
    val ob1 = jev2(Seq((3L, 30L)), Seq((2L, "sa"), (3L, "sb")),
      Seq((2L, "sb")))
    oRun(ob1, 1L)
    val oAt1 = oOut
    graft.operators.IvmOverJoin.gc(spark, oDir, retainLast = 1)
    oRun(ob1, 1L)
    assert(oOut == oAt1,
      "full-join-view redelivery after out-of-band gc must re-emit " +
        "identically")
  }

  test("ann indexed streaming ingest: redelivery re-emits identical top-k, torn states recover, divergence fails fast") {
    import graft.operators.IvfIndex
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val b0 = emb.filter(col("vec_id") % 3 === 0)
    val b1 = emb.filter(col("vec_id") % 3 === 1)
    val b2 = emb.filter(col("vec_id") % 3 === 2)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_chaos_ann").toString + "/idx"
    val cfg = IvfIndex.Config(dim = 64, nList = 8, iters = 2, maxSegments = 2)
    def run(batch: org.apache.spark.sql.DataFrame, bid: Long)
        : Set[(Long, Int, Long, Double)] = {
      val buf = scala.collection.mutable.Set[(Long, Int, Long, Double)]()
      graft.streaming.Streams.annIndexedBatch(
        batch, bid, "vec_id", "embedding", idxDir, cfg, k = 5, nProbe = 4,
        retainVersions = 2) { (topk, _) =>
        buf ++= topk.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      }
      buf.toSet
    }
    // crash AFTER the STREAM marker was pinned but BEFORE the bootstrap
    // build: redelivery of batch 0 must recover by building v1
    graft.operators.VersionedLayout.writeMarker(spark, idxDir, "STREAM", "0 0")
    val p0 = run(b0, 0L)
    assert(p0.nonEmpty)
    assert(IvfIndex.latestVersion(spark, idxDir) == 1)
    // crash AFTER v1 committed but BEFORE the checkpoint commit: the
    // replay branch re-emits identical results read-only
    assert(run(b0, 0L) == p0, "replay must re-emit the original top-k")
    assert(IvfIndex.latestVersion(spark, idxDir) == 1,
      "replay must never double-append")
    // a quiet-period empty batch still advances the version — that is
    // what keeps the batch-id↔version arithmetic aligned
    assert(run(b0.limit(0), 1L).isEmpty)
    assert(IvfIndex.latestVersion(spark, idxDir) == 2)
    // torn append of batch 2 (segment written, LATEST not flipped):
    // the retry overwrites the orphan and lands cleanly
    val junk = java.nio.file.Paths.get(s"$idxDir/segments/s00003")
    java.nio.file.Files.createDirectories(junk)
    java.nio.file.Files.write(junk.resolve("part-junk.parquet"), "x".getBytes)
    val p2 = run(b1, 2L)
    assert(p2.nonEmpty)
    assert(IvfIndex.latestVersion(spark, idxDir) == 3)
    // gc at batch 2's commit (retainVersions=2) dropped v1: replaying
    // against it fails with the retention message, while batch 2's own
    // version is alive and replays identically
    val e = intercept[IllegalArgumentException] {
      IvfIndex.topKAt(spark, idxDir, 1, b0, "vec_id", "embedding", 5)
    }
    assert(e.getMessage.contains("gc"), e.getMessage)
    assert(run(b1, 2L) == p2, "post-gc replay of the in-flight batch")
    // divergent state (batch id far ahead — checkpoint and index were
    // split) fails fast instead of misclassifying as fresh or replayed
    intercept[IllegalStateException] { run(b2, 7L) }
  }

  test("cdc indexed streaming ingest: redelivery applies nothing and re-emits identically; deletes stick") {
    import graft.operators.IvfIndex
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    def ev(df: org.apache.spark.sql.DataFrame, op: String) =
      df.select(lit(op).as("op"), col("vec_id"), col("embedding"))
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_chaos_cdc").toString + "/idx"
    val cfg = IvfIndex.Config(dim = 64, nList = 8, iters = 2)
    def run(batch: org.apache.spark.sql.DataFrame, bid: Long)
        : Set[(Long, Int, Long, Double)] = {
      val buf = scala.collection.mutable.Set[(Long, Int, Long, Double)]()
      graft.streaming.Streams.cdcIndexedBatch(
        batch, bid, "op", "vec_id", "embedding", idxDir, cfg, k = 5,
        nProbe = 8, retainVersions = 3) { (topk, _) =>
        buf ++= topk.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      }
      buf.toSet
    }
    val p0 = run(ev(emb.filter(col("vec_id") % 2 === 0), "upsert"), 0L)
    assert(p0.nonEmpty && IvfIndex.latestVersion(spark, idxDir) == 1)
    // batch 1: add the odd half AND delete %4==0
    val b1 = ev(emb.filter(col("vec_id") % 2 === 1), "upsert")
      .unionByName(ev(emb.filter(col("vec_id") % 4 === 0), "delete"))
    val p1 = run(b1, 1L)
    assert(IvfIndex.latestVersion(spark, idxDir) == 2)
    // crash after commit, before checkpoint: redelivery re-applies
    // NOTHING (no double tombstone, no double segment) and re-emits
    // byte-identical results
    assert(run(b1, 1L) == p1, "redelivered CDC batch diverged")
    assert(IvfIndex.latestVersion(spark, idxDir) == 2)
    assert(IvfIndex.readSegments(spark, idxDir, 2).length == 2)
    // deleted ids never answer a post-delete probe
    val res = IvfIndex.topK(spark, idxDir, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", 20, nProbe = 8).collect()
    assert(res.nonEmpty && !res.exists(_.getLong(2) % 4 == 0))
  }

  test("cdc retrieval ingest: redelivery applies nothing; BM25 exact over the resolved corpus") {
    import graft.operators.{TermIndex, Terms}
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    def ev(df: org.apache.spark.sql.DataFrame, op: String) =
      df.select(lit(op).as("op"), col("doc_id"), col("text"))
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_chaos_cdcr").toString + "/idx"
    val cfg = TermIndex.Config(buckets = 8)
    def run(batch: org.apache.spark.sql.DataFrame, bid: Long)
        : Set[(Long, Long, Long, Long)] = {
      val buf = scala.collection.mutable.Set[(Long, Long, Long, Long)]()
      graft.streaming.Streams.cdcRetrievalBatch(
        batch, bid, "op", "doc_id", "text", idxDir, cfg, k = 5,
        graft.functions.TextFunctions.tokens, retainVersions = 3) { (topk, _) =>
        buf ++= topk.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      buf.toSet
    }
    val p0 = run(ev(docs.filter(col("doc_id") % 2 === 0), "upsert"), 0L)
    assert(p0.nonEmpty && TermIndex.latestVersion(spark, idxDir) == 1)
    val b1 = ev(docs.filter(col("doc_id") % 2 === 1), "upsert")
      .unionByName(ev(docs.filter(col("doc_id") % 4 === 0), "delete"))
    val p1 = run(b1, 1L)
    assert(TermIndex.latestVersion(spark, idxDir) == 2)
    // redelivery: no double tombstone, no double segment, identical emit
    assert(run(b1, 1L) == p1, "redelivered CDC batch diverged")
    assert(TermIndex.latestVersion(spark, idxDir) == 2)
    // exactness: the index now scores the RESOLVED corpus (%4 in
    // {1,2,3}) — pair-for-pair with the inline bm25 over it
    val resolved = docs.filter(col("doc_id") % 4 =!= 0)
    val probes = docs.filter(col("doc_id") % 17 === 0)
    val got = TermIndex.topK(spark, idxDir, probes, "doc_id", "text", 5, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = Terms.bm25TopK(resolved, probes, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, "CDC-resolved BM25 != inline over the resolved corpus")
    assert(!got.exists(_._3 % 4 == 0), "deleted doc answered")
    spark.catalog.clearCache()
  }

  test("retrieval indexed streaming ingest: redelivery re-emits identical top-k, torn states recover, divergence fails fast") {
    import graft.operators.TermIndex
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_chaos_tidx").toString + "/idx"
    val cfg = TermIndex.Config(buckets = 4, maxSegments = 2)
    def run(batch: org.apache.spark.sql.DataFrame, bid: Long)
        : Set[(Long, Long, Long, Long)] = {
      val buf = scala.collection.mutable.Set[(Long, Long, Long, Long)]()
      graft.streaming.Streams.retrievalIndexedBatch(
        batch, bid, "doc_id", "text", idxDir, cfg, k = 3,
        graft.functions.TextFunctions.tokens, retainVersions = 2) { (topk, _) =>
        buf ++= topk.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      buf.toSet
    }
    // crash AFTER the STREAM marker was pinned but BEFORE the bootstrap
    // build: redelivery of batch 0 must recover by building v1
    graft.operators.VersionedLayout.writeMarker(spark, idxDir, "STREAM", "0 0")
    val p0 = run(b0, 0L)
    assert(p0.nonEmpty)
    assert(TermIndex.latestVersion(spark, idxDir) == 1)
    // crash AFTER v1 committed but BEFORE the checkpoint commit: the
    // replay branch re-emits identical results read-only
    assert(run(b0, 0L) == p0, "replay must re-emit the original top-k")
    assert(TermIndex.latestVersion(spark, idxDir) == 1,
      "replay must never double-append")
    // a quiet-period empty batch still advances the version — that is
    // what keeps the batch-id↔version arithmetic aligned
    assert(run(b0.limit(0), 1L).isEmpty)
    assert(TermIndex.latestVersion(spark, idxDir) == 2)
    // torn append of batch 2 (segment written, LATEST not flipped):
    // the retry overwrites the orphan and lands cleanly
    val junk = java.nio.file.Paths.get(s"$idxDir/segments/s00003")
    java.nio.file.Files.createDirectories(junk)
    java.nio.file.Files.write(junk.resolve("part-junk.parquet"), "x".getBytes)
    val p2 = run(b1, 2L)
    assert(p2.nonEmpty)
    assert(TermIndex.latestVersion(spark, idxDir) == 3)
    // gc at batch 2's commit (retainVersions=2) dropped v1: replaying
    // against it fails with the retention message, while batch 2's own
    // version is alive and replays identically
    val e = intercept[IllegalArgumentException] {
      TermIndex.topKAt(spark, idxDir, 1, b0, "doc_id", "text", 3, cfg)
    }
    assert(e.getMessage.contains("garbage-collected"), e.getMessage)
    assert(run(b1, 2L) == p2, "post-gc replay of the in-flight batch")
    // divergent state (batch id far ahead — checkpoint and index were
    // split) fails fast instead of misclassifying as fresh or replayed
    intercept[IllegalStateException] { run(b2, 7L) }
  }
}
