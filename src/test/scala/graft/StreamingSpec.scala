package graft

import graft.streaming.Streams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming extension: the incremental rollup must agree with the
  * batch computation over the same finite input. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("streaming windowed counts == batch groupBy over the same data") {
    val stream = Streams.windowedTypeCounts(
      Streams.eventsStream(spark, sf), "1 hour", "2 hours")
    val got = Streams.runToMemory(spark, stream, "win_counts")
      .select("win_start", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val batch = Tables.load(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("windowedDistinct: streaming HLL rollup == batch HLL per window, " +
    "bit-identical") {
    val stream = Streams.windowedDistinct(
      Streams.eventsStream(spark, sf), "user_id", "1 hour", "2 hours")
    val got = Streams.runToMemory(spark, stream, "win_hll")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSet
    val hllU = udaf(graft.operators.Hll.HllAggregator(12))
    val batch = Tables.load(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("win_start"),
        col("event_type"))
      .agg(hllU(col("user_id").cast("string")).as("approx_distinct"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == batch,
      "window estimates must be identical doubles stream vs batch")
    assert(got.nonEmpty)
  }

  test("streaming dedup keeps exactly the batch-distinct key set") {
    val stream = Streams.dedupStream(
      Streams.eventsStream(spark, sf), Seq("event_type"), "ts", "10 minutes")
    val got = Streams.runToMemory(spark, stream, "dedup_stream", "append")
      .select("event_type").collect().map(_.getString(0)).toSeq
    val expect = Tables.load(spark, sf, "events")
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    // exactly one survivor per key (which arrival survives is
    // micro-batch-order-dependent; the KEY SET is the contract)
    assert(got.size == got.toSet.size, "duplicate keys survived")
    assert(got.toSet == expect)
  }

  test("streaming session_window == batch session_window (closed sessions)") {
    val gap = "240 minutes"
    // batch: session_window works identically on a static frame
    val batchAll = Streams.sessionWindows(Tables.load(spark, sf, "events"), gap)
    val maxTs = Tables.load(spark, sf, "events")
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val closed = batchAll
      .filter(unix_micros(col("session_end")) <= maxTs)
      .select(col("user_id"), unix_micros(col("session_start")).as("s"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val stream = Streams.sessionWindows(Streams.eventsStream(spark, sf), gap)
    val got = Streams.runToMemory(spark, stream, "sessions_sw", "append")
      .select(col("user_id"), unix_micros(col("session_start")).as("s"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // append emits exactly the watermark-finalized sessions
    assert(got.nonEmpty)
    assert(got.subsetOf(closed ++ got), "sanity")
    assert(closed.subsetOf(got), s"missing ${(closed -- got).take(3)}")
  }

  test("flatMapGroupsWithState sessionization == session_window (closed sessions)") {
    val gapMin = 240L
    val events = Tables.load(spark, sf, "events")
    val maxTs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val expect = Streams.sessionWindows(events, s"$gapMin minutes")
      .filter(unix_micros(col("session_end")) <= maxTs)
      .select(col("user_id"), unix_micros(col("session_start")).as("s"),
        col("n_events"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val stream = Streams.sessionizeCustomState(
      Streams.eventsStream(spark, sf), gapMin)
    val got = Streams.runToMemory(spark, stream.toDF(), "sessions_fmgws", "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(got.nonEmpty, "no sessions closed — watermark/timeout wiring broken")
    assert(got == expect,
      s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
  }

  test("nearDupStream: per-batch incremental pairs union to the batch pair set, exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = docs.partition(_._1 % 2 == 0)
    val source =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("neardup").toString
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = Streams.nearDupStream(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/corpus") { (pairs, _) =>
      got ++= pairs.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    source.addData(b1.toSeq)
    q.processAllAvailable()
    source.addData(b2.toSeq)
    q.processAllAvailable()
    q.stop()
    val want = graft.operators.Dedup
      .minhashDupPairs(Tables.load(spark, sf, "documents"), "doc_id", "text")
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "fixture should contain near-dup pairs")
    assert(got.toSet == want,
      s"missing=${(want -- got.toSet).take(3)} extra=${(got.toSet -- want).take(3)}")
    assert(got.size == want.size, "a pair must be emitted exactly once")
  }

  test("nearDupStreamIndexed: index-backed stream emits the same pairs, batch-sized per ingest") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = docs.partition(_._1 % 2 == 0)
    val source =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val idxBase = java.nio.file.Files.createTempDirectory("neardup_idx").toString
    val idxDir = s"$idxBase/idx"
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = Streams.nearDupStreamIndexed(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text", idxDir,
      s"$idxBase/ckpt") { (pairs, _) =>
      got ++= pairs.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    source.addData(b1.toSeq)
    q.processAllAvailable()
    source.addData(b2.toSeq)
    q.processAllAvailable()
    q.stop()
    val want = graft.operators.Dedup
      .minhashDupPairs(Tables.load(spark, sf, "documents"), "doc_id", "text")
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet == want,
      s"missing=${(want -- got.toSet).take(3)} extra=${(got.toSet -- want).take(3)}")
    assert(got.size == want.size, "a pair must be emitted exactly once")
    // the index chained one version per micro-batch (bootstrap v1 +
    // two ingests)
    assert(graft.operators.MinhashIndex.latestVersion(spark, idxDir) == 3)
  }

  test("exactDedupStreamIndexed: unbounded-history exact dedup — seen-first pairs per batch, one version per batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("exactdedup_idx").toString
    val idxDir = s"$base/idx"
    val perBatch = scala.collection.mutable.ArrayBuffer[Set[(Long, Long)]]()
    val q = Streams.exactDedupStreamIndexed(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text", idxDir,
      s"$base/ckpt") { (pairs, _) =>
      perBatch += pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // batch 0: 8 novels + 2 within-batch dups
    source.addData((1L to 8L).map(i => (i, s"text $i")) ++
      Seq((9L, "text 1"), (10L, "text 2")))
    q.processAllAvailable()
    // batch 1: dup-of-indexed (far beyond any watermark horizon —
    // the contract dropDuplicatesWithinWatermark cannot give),
    // within-batch pair, one novel
    source.addData(Seq((11L, "text 1"), (12L, "brand new"),
      (13L, "brand new"), (14L, "text 5"), (15L, "solo")))
    q.processAllAvailable()
    // batch 2: all-dup quiet batch
    source.addData(Seq((20L, "text 1")))
    q.processAllAvailable()
    q.stop()
    assert(perBatch.toSeq === Seq(
      Set((9L, 1L), (10L, 2L)),
      Set((11L, 1L), (13L, 12L), (14L, 5L)),
      Set((20L, 1L))))
    // bootstrap v1 + three ingests, the quiet batch included
    assert(graft.operators.DigestIndex.latestVersion(spark, idxDir) == 4)
  }

  test("cdcExactDedupStream: upsert/delete events fold as one commit per batch; delete revives, delete-wins holds") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, String)]
    val base = java.nio.file.Files.createTempDirectory("cdc_exact").toString
    val perBatch = scala.collection.mutable.ArrayBuffer[Set[(Long, Long)]]()
    val q = Streams.cdcExactDedupStream(
      source.toDF().toDF("op", "doc_id", "text"), "op", "doc_id", "text",
      s"$base/idx", s"$base/ckpt") { (pairs, _) =>
      perBatch += pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // batch 0: bootstrap upserts with one internal dup
    source.addData(("upsert", 1L, "w alpha"), ("upsert", 2L, "w beta"),
      ("upsert", 3L, "w alpha"))
    q.processAllAvailable()
    // batch 1: text change (2), delete (1), same-batch upsert+delete
    // conflict (5 — delete wins), and a dup of a doc dying in THIS
    // commit must NOT pair to it (4 takes 1's text as 1 dies → novel)
    source.addData(("upsert", 2L, "w beta edited"), ("delete", 1L, ""),
      ("upsert", 4L, "w alpha"), ("upsert", 5L, "w gone"),
      ("delete", 5L, ""))
    q.processAllAvailable()
    // batch 2: probes of the resolved state
    source.addData(("upsert", 7L, "w beta edited"), ("upsert", 8L, "w gone"))
    q.processAllAvailable()
    q.stop()
    // batch-1 note: 4's "w alpha" could pair to 3 — no: 3 was a dup of
    // 1, never entered the index (one live row per digest); with 1
    // dying in the same commit, "w alpha" has no live row left
    assert(perBatch.toSeq === Seq(
      Set((3L, 1L)),
      Set.empty[(Long, Long)],
      Set((7L, 2L)))) // "w gone" never entered (delete-wins) → 8 novel
    assert(graft.operators.DigestIndex.latestVersion(spark, s"$base/idx") == 4)
  }

  test("cdcFullJoinViewStream: two-sided CDC stream maintains the full-agg join view (min/max/distinct) == batch recompute") {
    import graft.operators.{Ivm, IvmOverJoin}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Long, Option[Long], Option[String])]
    val base = java.nio.file.Files.createTempDirectory("cdc_fjview").toString
    val dir = s"$base/view"
    IvmOverJoin.create(spark, dir,
      Seq((1L, 1L)).toDF("k", "v").schema,
      Seq((1L, "s")).toDF("k", "seg").schema,
      IvmOverJoin.Spec(Seq("k"), Seq("seg"),
        Seq(Ivm.Count("cnt"), Ivm.Min("v", "min_v"), Ivm.Max("v", "max_v"),
          Ivm.CountDistinct("v", "n_vals"))),
      nBuckets = 4)
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    val q = Streams.cdcFullJoinViewStream(
      source.toDF().toDF("side", "op", "k", "v", "seg"), "op", "side",
      dir, s"$base/ckpt") { (rows, bid) =>
      emitted += ((bid, rows.collect().length))
    }
    def f(op: String, k: Long, v: Long) =
      ("fact", op, k, Option(v), Option.empty[String])
    def d(op: String, k: Long, seg: String) =
      ("dim", op, k, Option.empty[Long], Option(seg))
    source.addData(f("insert", 1L, 10L), f("insert", 1L, 20L),
      f("insert", 2L, 30L), f("insert", 3L, 5L), f("insert", 3L, 40L),
      d("insert", 1L, "s0"), d("insert", 2L, "s0"), d("insert", 3L, "s1"))
    q.processAllAvailable()
    // batch 1: retract s1's MINIMUM (3,5) — the non-invertible case —
    // plus a dim reassignment moving key 1's rows into s1
    source.addData(f("delete", 3L, 5L),
      d("delete", 1L, "s0"), d("insert", 1L, "s1"))
    q.processAllAvailable()
    // batch 2: duplicate value joins in (count 2, distinct 1 for s0)
    source.addData(f("insert", 4L, 30L), f("insert", 4L, 30L)
      , d("insert", 4L, "s0"))
    q.processAllAvailable()
    q.stop()
    val factNow = Seq((1L, 10L), (1L, 20L), (2L, 30L), (3L, 40L),
      (4L, 30L), (4L, 30L)).toDF("k", "v")
    val dimNow = Seq((1L, "s1"), (2L, "s0"), (3L, "s1"), (4L, "s0"))
      .toDF("k", "seg")
    val want = factNow.join(dimNow, "k").groupBy("seg")
      .agg(count(lit(1)).as("cnt"), min("v").as("min_v"),
        max("v").as("max_v"), count_distinct($"v").as("n_vals"))
      .collect().toSet
    assert(IvmOverJoin.readView(spark, dir).collect().toSet === want)
    val (fv, dv, _) = IvmOverJoin.latestVersions(spark, dir)
    assert((fv, dv) == ((4, 4)),
      "one version per SIDE per batch")
    assert(emitted.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(emitted.forall(_._2 > 0))
  }

  test("cdcJoinViewStream: two-sided CDC stream maintains the join rollup == batch join-aggregate; one version per side per batch") {
    import graft.operators.{Ivm, JoinIvm}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // events: (side, op, k, v, seg) — fact rows carry v, dim rows seg
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Long, Option[Long], Option[String])]
    val base = java.nio.file.Files.createTempDirectory("cdc_jview").toString
    val dir = s"$base/view"
    JoinIvm.create(spark, dir,
      Seq((1L, 1L)).toDF("k", "v").schema,
      Seq((1L, "s")).toDF("k", "seg").schema,
      JoinIvm.Spec(Seq("k"), Seq("seg"),
        Seq(Ivm.Count("cnt"), Ivm.Sum("v", "sum_v"), Ivm.Avg("v", "avg_v"))),
      nBuckets = 4)
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    val q = Streams.cdcJoinViewStream(
      source.toDF().toDF("side", "op", "k", "v", "seg"), "op", "side",
      dir, s"$base/ckpt") { (rows, bid) =>
      emitted += ((bid, rows.collect().length))
    }
    def f(op: String, k: Long, v: Long) =
      ("fact", op, k, Option(v), Option.empty[String])
    def d(op: String, k: Long, seg: String) =
      ("dim", op, k, Option.empty[Long], Option(seg))
    // batch 0: initial two-sided load
    source.addData(f("insert", 1L, 10L), f("insert", 1L, 20L),
      f("insert", 2L, 30L), f("insert", 3L, 40L),
      d("insert", 1L, "s0"), d("insert", 2L, "s0"), d("insert", 3L, "s1"))
    q.processAllAvailable()
    // batch 1: dim reassignment (key 1 → s1: every joined row of that
    // key moves groups) + fact update on key 2
    source.addData(d("delete", 1L, "s0"), d("insert", 1L, "s1"),
      f("delete", 2L, 30L), f("insert", 2L, 31L))
    q.processAllAvailable()
    // batch 2: delete key 3 entirely — group s1 shrinks; key 4 joins in
    source.addData(f("delete", 3L, 40L), d("delete", 3L, "s1"),
      f("insert", 4L, 50L), d("insert", 4L, "s0"))
    q.processAllAvailable()
    q.stop()
    // stream == batch: the maintained view must equal the one-shot
    // join-aggregate over the net final state
    val factNow = Seq((1L, 10L), (1L, 20L), (2L, 31L), (4L, 50L))
      .toDF("k", "v")
    val dimNow = Seq((1L, "s1"), (2L, "s0"), (4L, "s0")).toDF("k", "seg")
    val want = factNow.join(dimNow, "k").groupBy("seg")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"),
        avg("v").as("avg_v"))
      .collect().toSet
    assert(JoinIvm.readView(spark, dir).collect().toSet === want)
    // one version per SIDE per batch, every batch emitted exactly once
    assert(JoinIvm.latestVersions(spark, dir) == ((4, 4)))
    assert(emitted.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(emitted.forall(_._2 > 0))
  }

  test("annStreamIndexed with PQ layer: pinned emissions survive ADC probing + in-stream compaction") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.IvfIndex
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val nB = 3
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val batches = (0 until nB).map(i => rows.filter(_._1 % nB == i))
    // PQ-enabled index; tight maxSegments so compaction (which must
    // re-encode codes against the manifest's frozen books) fires
    val cfg = IvfIndex.Config(dim = 64, nList = 8, iters = 2, maxSegments = 2,
      pq = Some(IvfIndex.PqConfig(m = 8, ksub = 16)))
    val base = java.nio.file.Files.createTempDirectory("annpq_stream").toString
    val idxDir = s"$base/idx"
    val source =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.Map[Long, Set[(Long, Int, Long, Double)]]()
    val q = Streams.annStreamIndexed(
      source.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      idxDir, s"$base/ckpt", cfg, k = 5, nProbe = 4,
      retainVersions = nB + 1) { (topk, bid) =>
      got(bid) = topk.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    }
    batches.foreach { b => source.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    assert(IvfIndex.latestVersion(spark, idxDir) == nB)
    // replay contract: each batch's emission == read-only probe of its
    // own version — through the PQ (ADC + exact re-rank) probe path
    (0 until nB).foreach { i =>
      val qdf = spark.createDataFrame(batches(i).toSeq)
        .toDF("vec_id", "embedding")
      val want = IvfIndex.topKAt(spark, idxDir, i + 1, qdf,
        "vec_id", "embedding", 5, 4)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got(i.toLong) == want, s"batch $i emission is not version-pinned")
      assert(want.nonEmpty)
    }
    assert(IvfIndex.readSegments(spark, idxDir, nB).length <= cfg.maxSegments)
    // emitted similarities are re-ranked EXACT cosines, not ADC
    // approximations: every emitted cos is in [-1, 1] and each query's
    // list is sorted descending by it
    got.values.foreach(_.groupBy(_._1).foreach { case (_, hits) =>
      val byRank = hits.toSeq.sortBy(_._2).map(_._4)
      assert(byRank == byRank.sorted.reverse)
      assert(byRank.forall(c => c >= -1.0001 && c <= 1.0001))
    })
  }

  test("retrievalStreamIndexed: emissions pinned per version, one version per batch, compaction in-stream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.TermIndex
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val nB = 4
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val batches = (0 until nB).map(i => rows.filter(_._1 % nB == i))
    // tight maxSegments so size compaction fires DURING the stream
    val cfg = TermIndex.Config(buckets = 4, maxSegments = 2)
    val base = java.nio.file.Files.createTempDirectory("tidx_stream").toString
    val idxDir = s"$base/idx"
    val source =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map[Long, Set[(Long, Long, Long, Long)]]()
    val q = Streams.retrievalStreamIndexed(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text",
      idxDir, s"$base/ckpt", cfg, k = 3,
      retainVersions = nB + 1) { (topk, bid) =>
      got(bid) = topk.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    }
    batches.foreach { b => source.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    // one version per micro-batch, pairing pinned at first contact
    assert(TermIndex.latestVersion(spark, idxDir) == nB)
    assert(graft.operators.VersionedLayout.readMarker(spark, idxDir, "STREAM").contains("0 0"))
    // THE streaming contract: batch i's emission == a read-only probe
    // of the version it committed — what a replay would re-emit
    (0 until nB).foreach { i =>
      val qdf = spark.createDataFrame(batches(i).toSeq).toDF("doc_id", "text")
      val want = TermIndex.topKAt(spark, idxDir, i + 1, qdf,
        "doc_id", "text", 3, cfg)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got(i.toLong) == want, s"batch $i emission is not version-pinned")
      assert(want.nonEmpty)
    }
    // every batch doc got retrieval hits as of arrival (corpus ∪ batch)
    assert(got.values.flatMap(_.map(_._1)).toSet == rows.map(_._1).toSet)
    // size compaction ran in-stream and bounded the manifest
    assert(TermIndex.readManifest(spark, idxDir, nB).length <= cfg.maxSegments)
    spark.catalog.clearCache()
  }

  test("annStreamIndexed: emissions pinned per version, one version per batch, compaction in-stream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.IvfIndex
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val nB = 4
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val batches = (0 until nB).map(i => rows.filter(_._1 % nB == i))
    // tight maxSegments so size compaction fires DURING the stream
    val cfg = IvfIndex.Config(dim = 64, nList = 8, iters = 2, maxSegments = 2)
    val base = java.nio.file.Files.createTempDirectory("ann_stream").toString
    val idxDir = s"$base/idx"
    val source =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.Map[Long, Set[(Long, Int, Long, Double)]]()
    // retain every version so the pinned-emission contract can be
    // audited after the fact (gc-interplay is ChaosSpec's job)
    val q = Streams.annStreamIndexed(
      source.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      idxDir, s"$base/ckpt", cfg, k = 5, nProbe = 4,
      retainVersions = nB + 1) { (topk, bid) =>
      got(bid) = topk.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    }
    batches.foreach { b => source.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    // one version per micro-batch, pairing pinned at first contact
    assert(IvfIndex.latestVersion(spark, idxDir) == nB)
    assert(graft.operators.VersionedLayout.readMarker(spark, idxDir, "STREAM").contains("0 0"))
    // THE streaming contract: batch i's emission == a read-only probe
    // of the version it committed — what a replay would re-emit
    (0 until nB).foreach { i =>
      val qdf = spark.createDataFrame(batches(i).toSeq)
        .toDF("vec_id", "embedding")
      val want = IvfIndex.topKAt(spark, idxDir, i + 1, qdf,
        "vec_id", "embedding", 5, 4)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got(i.toLong) == want, s"batch $i emission is not version-pinned")
      assert(want.nonEmpty)
    }
    // every batch vector got neighbors as of arrival (corpus ∪ batch)
    assert(got.values.flatMap(_.map(_._1)).toSet == rows.map(_._1).toSet)
    // size compaction ran in-stream and bounded the manifest
    assert(IvfIndex.readSegments(spark, idxDir, nB).length <= cfg.maxSegments)
  }

  test("cdcNearDupStream: two commits per batch; pairs == inline over the resolved corpus; torn + replay recover") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.{Dedup, MinhashIndex}
    val d = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val rows = d.collect().map(r => (r.getLong(0), r.getString(1)))
    def rewrite(t: String) = t + " cdc rewritten tail"
    // b0: bootstrap %4<=1; b1: add %4==2, delete %8==0;
    // b2: REPLACE %4==1 with rewritten text, delete %8==4
    val b0 = rows.filter(_._1 % 4 <= 1).map(t => ("upsert", t._1, t._2))
    val b1 = rows.filter(_._1 % 4 == 2).map(t => ("upsert", t._1, t._2)) ++
      rows.filter(_._1 % 8 == 0).map(t => ("delete", t._1, ""))
    val b2 = rows.filter(_._1 % 4 == 1)
      .map(t => ("upsert", t._1, rewrite(t._2))) ++
      rows.filter(_._1 % 8 == 4).map(t => ("delete", t._1, ""))
    val cfg = MinhashIndex.Config()
    val base = java.nio.file.Files.createTempDirectory("cdc_neardup").toString
    val idxDir = s"$base/idx"
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, String)]
    val got = scala.collection.mutable.Map[Long, Set[(Long, Long, Double)]]()
    val q = Streams.cdcNearDupStream(
      source.toDF().toDF("op", "doc_id", "text"), "op", "doc_id", "text",
      idxDir, s"$base/ckpt", cfg, retainVersions = 3) { (pairs, bid) =>
      got(bid) = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    Seq(b0, b1, b2).foreach { b => source.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    // two commits per batch on top of the empty-build v1
    assert(MinhashIndex.latestVersion(spark, idxDir) == 7)
    // each emission == inline minhashIncremental(resolved-so-far minus
    // this batch's dead ids, upserts)
    def df(rs: Seq[(Long, String)]) = rs.toDF("doc_id", "text")
    def pairSet(f: org.apache.spark.sql.DataFrame) = f.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val r0 = rows.filter(_._1 % 4 <= 1).toSeq
    assert(got(0L) == pairSet(
      Dedup.minhashIncremental(df(Seq.empty), df(r0), "doc_id", "text")))
    val r1pre = r0.filterNot(_._1 % 8 == 0)
    val ups1 = rows.filter(_._1 % 4 == 2).toSeq
    assert(got(1L) == pairSet(
      Dedup.minhashIncremental(df(r1pre), df(ups1), "doc_id", "text")))
    val resolved1 = r1pre ++ ups1
    val ups2 = rows.filter(_._1 % 4 == 1).map(t => (t._1, rewrite(t._2))).toSeq
    val r2pre = resolved1.filterNot(t => t._1 % 8 == 4 || t._1 % 4 == 1)
    assert(got(2L) == pairSet(
      Dedup.minhashIncremental(df(r2pre), df(ups2), "doc_id", "text")))
    assert(got.values.exists(_.nonEmpty), "degenerate fixture: no pairs")
    // full redelivery of batch 2 re-emits identically, applies nothing
    var replayed: Set[(Long, Long, Double)] = null
    Streams.cdcNearDupBatch(
      spark.createDataset(b2.toSeq).toDF("op", "doc_id", "text"), 2L,
      "op", "doc_id", "text", idxDir, cfg, 3) { (p, _) =>
      replayed = pairSet(p)
    }
    assert(replayed == got(2L), "replay diverged")
    assert(MinhashIndex.latestVersion(spark, idxDir) == 7, "replay committed")
    // TORN batch 3: crash between the delete commit and the ingest —
    // inject by running the delete exactly as the batch body would,
    // then redeliver the full batch; recovery must ingest WITHOUT
    // re-deleting and land on the same state as a clean run
    val ups3 = rows.filter(_._1 % 8 == 1).map(t => (t._1, t._2 + " v3")).toSeq
    val dels3 = rows.filter(_._1 % 8 == 2).map(_._1).toSeq
    val b3 = ups3.map(t => ("upsert", t._1, t._2)) ++
      dels3.map(i => ("delete", i, ""))
    MinhashIndex.deleteFromIndex(spark, idxDir,
      (dels3 ++ ups3.map(_._1)).toDF("doc_id"), "doc_id", cfg)
    assert(MinhashIndex.latestVersion(spark, idxDir) == 8) // torn state
    var e3: Set[(Long, Long, Double)] = null
    Streams.cdcNearDupBatch(
      spark.createDataset(b3).toDF("op", "doc_id", "text"), 3L,
      "op", "doc_id", "text", idxDir, cfg, 3) { (p, _) => e3 = pairSet(p) }
    assert(MinhashIndex.latestVersion(spark, idxDir) == 9)
    val r3pre = (r2pre ++ ups2)
      .filterNot(t => t._1 % 8 == 2 || t._1 % 8 == 1)
    assert(e3 == pairSet(
      Dedup.minhashIncremental(df(r3pre), df(ups3), "doc_id", "text")))
    // final index state == fresh build over the fully resolved corpus
    // (probe equality via a foreign probe batch)
    val finalCorpus = r3pre ++ ups3
    val probeB = df(rows.filter(_._1 % 16 == 3)
      .map(t => (t._1 + 500000L, t._2)).toSeq)
    val fromIdx = Dedup.minhashIncrementalFromIndex(spark, idxDir, probeB,
      "doc_id", "text", cfg)
    val inline = Dedup.minhashIncremental(df(finalCorpus), probeB,
      "doc_id", "text")
    assert(pairSet(fromIdx) == pairSet(inline))
    spark.catalog.clearCache()
  }

  test("cdcStreamIndexed: one commit per batch; upserts+deletes resolve exactly; emissions pinned") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.IvfIndex
    import graft.functions.VectorExpressions.{dotF, normF}
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def neg(a: Array[Float]) = a.map(x => -x)
    // b0: bootstrap %4∈{0,1}; b1: add %4==2, delete %8==0;
    // b2: REPLACE %4==1 with negated vectors, delete %8==4
    val b0 = rows.filter(t => t._1 % 4 <= 1).map(t => ("upsert", t._1, t._2))
    val b1 = rows.filter(_._1 % 4 == 2).map(t => ("upsert", t._1, t._2)) ++
      rows.filter(_._1 % 8 == 0).map(t => ("delete", t._1, t._2))
    val b2 = rows.filter(_._1 % 4 == 1).map(t => ("upsert", t._1, neg(t._2))) ++
      rows.filter(_._1 % 8 == 4).map(t => ("delete", t._1, t._2))
    val cfg = IvfIndex.Config(dim = 64, nList = 8, iters = 2)
    val base = java.nio.file.Files.createTempDirectory("cdc_stream").toString
    val idxDir = s"$base/idx"
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Array[Float])]
    val got = scala.collection.mutable.Map[Long, Set[(Long, Int, Long, Double)]]()
    val q = Streams.cdcStreamIndexed(
      source.toDF().toDF("op", "vec_id", "embedding"), "op", "vec_id",
      "embedding", idxDir, s"$base/ckpt", cfg, k = 5, nProbe = 8,
      retainVersions = 4) { (topk, bid) =>
      got(bid) = topk.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    }
    Seq(b0, b1, b2).foreach { b => source.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    assert(IvfIndex.latestVersion(spark, idxDir) == 3)
    // final state == the CDC-resolved corpus, by independent brute
    // force (exhaustive nProbe): %4∈{1,2} survive (all %4==0 ids are
    // %8∈{0,4}, so both deletes together retire them), %4==1 negated
    val finalRows = rows.collect {
      case (i, v) if i % 4 == 1 => (i, neg(v))
      case (i, v) if i % 4 == 2 => (i, v)
    }
    val fin = spark.createDataFrame(finalRows.toSeq).toDF("vec_id", "embedding")
    val queries = fin.filter(col("vec_id") < 20)
    val gotTop = IvfIndex.topK(spark, idxDir, queries, "vec_id", "embedding",
      5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expected = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(fin.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        dotF(col("qv"), col("cv")) / (normF(col("qv")) * normF(col("cv"))))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rnk") <= 5).select("query_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotTop == expected, "CDC-resolved index != independent top-k")
    // emissions pinned: batch 2's emission == a read-only probe of its
    // own version with its upserted vectors
    val ups2 = spark.createDataFrame(
      rows.filter(_._1 % 4 == 1).map(t => (t._1, neg(t._2))).toSeq)
      .toDF("vec_id", "embedding")
    val want2 = IvfIndex.topKAt(spark, idxDir, 3, ups2, "vec_id",
      "embedding", 5, 8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got(2L) == want2, "batch 2 emission is not version-pinned")
  }

  test("streaming HLL distinct (mergeable aggregator) == batch estimate, " +
    "updated across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Hll
    val rows = Tables.load(spark, sf, "events")
      .select(col("event_type"), col("user_id").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val (b1, b2) = rows.partition(_._2.hashCode % 2 == 0)
    val hllU = udaf(Hll.HllAggregator(12))
    val source =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val q = source.toDF().toDF("event_type", "k")
      .groupBy("event_type").agg(hllU(col("k")).as("est"))
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    def state(): Map[String, Double] =
      spark.table("hll_stream").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    def batchOver(data: Seq[(String, String)]): Map[String, Double] =
      spark.createDataFrame(data).toDF("event_type", "k")
        .groupBy("event_type").agg(hllU(col("k")).as("est"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    source.addData(b1.toSeq)
    q.processAllAvailable()
    // mid-stream state == a batch over the data so far (the register
    // state in the store merges exactly like partial aggregation)
    assert(state() == batchOver(b1.toSeq))
    source.addData(b2.toSeq)
    q.processAllAvailable()
    val fin = state()
    q.stop()
    assert(fin == batchOver(rows.toSeq),
      "streaming estimate after all batches must equal the batch run")
  }

  test("intervalJoinStream (inner): stream-stream view→click attribution " +
    "== batch interval join") {
    val ev = Streams.eventsStream(spark, sf)
    def side(df: org.apache.spark.sql.DataFrame, t: String, idAs: String) =
      df.filter(col("event_type") === t)
        .select(col("user_id"), col("ts"), col("event_id").as(idAs))
    val joined = Streams.intervalJoinStream(
      side(ev, "view", "view_id"), side(ev, "click", "click_id"),
      "user_id", "ts", "ts", within = "2 hours")
    val got = Streams.runToMemory(spark, joined, "ss_join", "append")
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bev = Tables.load(spark, sf, "events")
    val bv = side(bev, "view", "view_id")
    val bc = side(bev, "click", "click_id")
      .withColumnRenamed("ts", "r_ts").withColumnRenamed("user_id", "u2")
    val want = bv.join(bc, col("user_id") === col("u2") &&
        col("r_ts") >= col("ts") &&
        col("r_ts") <= col("ts") + expr("INTERVAL 2 hours"))
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(want.nonEmpty, "fixture should contain view→click matches")
    assert(got.sorted == want.sorted,
      s"stream join != batch join (got ${got.size}, want ${want.size})")
    // a match is emitted exactly once
    assert(got.size == got.toSet.size)
  }

  test("intervalJoinStream (leftOuter): null emission once the watermark " +
    "proves no match; matched rows identical to inner") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val lsrc = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long)]
    val rsrc = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = Streams.intervalJoinStream(
      lsrc.toDF().toDF("user_id", "ts", "view_id"),
      rsrc.toDF().toDF("user_id", "ts", "click_id"),
      "user_id", "ts", "ts", within = "30 minutes",
      joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("ss_outer")
      .outputMode("append").start()
    // user 1 matches at +20min; user 2 never matches
    lsrc.addData((1L, ts(0), 100L), (2L, ts(0), 200L))
    rsrc.addData((1L, ts(20), 900L))
    q.processAllAvailable()
    // sentinels push event time far past ts(0)+30min on BOTH streams
    // (global watermark = min over inputs); the second round lets the
    // post-sentinel watermark drive the state-eviction micro-batch
    for (m <- Seq(600, 610)) {
      lsrc.addData((98L, ts(m), 101L)); rsrc.addData((99L, ts(m), 901L))
      q.processAllAvailable()
    }
    q.stop()
    val rows = spark.table("ss_outer")
      .filter(col("user_id").isin(1L, 2L))
      .select("user_id", "view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows == Set((1L, 100L, 900L), (2L, 200L, -1L)),
      s"got $rows")
    // sentinel left rows (98) sit inside their un-expired window: they
    // must NOT have produced premature null matches
    assert(spark.table("ss_outer").filter(col("user_id") === 98L).count() == 0)
  }
}
