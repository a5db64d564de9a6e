package graft

import graft.operators.{TermIndex, Terms}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Persisted BM25 index: the load-bearing contract is pair-for-pair
 * equality with the inline Terms.bm25TopK over the union corpus —
 * across appends, compactions, term extractors, and torn writes.
 */
class TermIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.load(spark, sf, "documents")
    .select(col("doc_id"), col("text"))

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tidx").toString

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSet

  private def probesOf(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 17 === 0)

  test("constant-size churn never rewrites the corpus base segment; tombstones coalesce; scores stay exact") {
    val dir = tmpDir()
    val cfg = TermIndex.Config(buckets = 4, maxSegments = 3)
    val d = docs.persist()
    TermIndex.build(spark, d, "doc_id", "text", dir, cfg)
    // fingerprint of the base (corpus-sized) segment's files — a
    // rewrite cannot preserve mtimes
    def segFiles(seg: String): Set[(String, Long, Long)] = {
      val p = java.nio.file.Paths.get(s"$dir/segments/$seg")
      java.nio.file.Files.walk(p).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(f => java.nio.file.Files.isRegularFile(f))
        .map(f => (p.relativize(f).toString, java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSet
    }
    val baseFp = segFiles("r00001")
    val churn = d.filter(col("doc_id") % 25 === 3)
    var lastText: Long => String = null
    (1 to 14).foreach { i =>
      val ups = churn.select(col("doc_id"),
        concat_ws(" ", lit(s"churn$i"), col("text")).as("text"))
      val v = TermIndex.applyCdc(spark, dir, ups,
        churn.select("doc_id").limit(0), "doc_id", "text", cfg)
      TermIndex.gc(spark, dir, retainLast = 2)
      val segs = TermIndex.readManifest(spark, dir, v)
      // the size-tiered subset rule: the corpus-sized base never joins
      // a fold while the churn tiers stay far smaller
      assert(segs.exists(_._1 == "r00001"),
        s"v$v: base segment folded away: ${segs.map(_._1)}")
      assert(segFiles("r00001") == baseFp,
        s"v$v: base segment rewritten")
      // r-count bounded by the cap (every trigger shrinks it)
      assert(segs.count(_._1.startsWith("r")) <= cfg.maxSegments,
        s"v$v: r pile-up: ${segs.map(_._1)}")
      // tombstone-dataset count bounded (folds coalesce to one `c`)
      val (_, tombs) = TermIndex.readTombstones(spark, dir, v)
      assert(tombs.length <= 4, s"v$v: tombstones piled up: $tombs")
    }
    // scores == inline over the resolved corpus (latest churn wins)
    val resolved = d.join(churn.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(churn.select(col("doc_id"),
        concat_ws(" ", lit("churn14"), col("text")).as("text")))
    val got = TermIndex.topK(spark, dir, probesOf(d), "doc_id", "text",
      k = 5, cfg)
    val want = Terms.bm25TopK(resolved, probesOf(d), "doc_id", "text", k = 5)
    assert(rows(got) === rows(want))
    d.unpersist()
  }

  test("build + topK == inline bm25TopK, unigram and bigram terms") {
    val d = docs.persist()
    for ((terms, tag) <- Seq(
      (graft.functions.TextFunctions.tokens _, "unigram"),
      (Terms.bigramTerms _, "bigram"))) {
      val dir = tmpDir()
      // deliberate exact document-probe equality — gate opted out
      val cfg = TermIndex.Config(buckets = 8, termsTag = tag,
        maxCandidateFraction = TermIndex.ExactUnbounded)
      TermIndex.build(spark, d, "doc_id", "text", dir, cfg, terms)
      val got = TermIndex.topK(spark, dir, probesOf(d), "doc_id", "text",
        k = 5, cfg, terms)
      val want = Terms.bm25TopK(d, probesOf(d), "doc_id", "text", k = 5, terms)
      assert(rows(got) === rows(want), tag)
      spark.catalog.clearCache()
    }
    d.unpersist()
  }

  test("max-score probe prunes (engages on rare-term probes, falls back on all-common) and stays pair-exact") {
    import spark.implicits._
    // 240 docs: an 8-doc group token (idf_q 4 — essential), corpus-wide
    // fillers (idf_q 0), a half-corpus mid token (idf_q 1 — completion
    // class), per-doc uniq and 16-way payload tokens
    val docs240 = (0 until 240).map { i =>
      val mid = if (i % 2 == 0) "midtok" else "othertok"
      (i.toLong, s"filler1 filler2 filler3 $mid grp${i / 8} uniq$i payload${i % 16}")
    }.toDF("doc_id", "text")
    // deliberate exact document-probe equality — gate opted out
    val cfg = TermIndex.Config(buckets = 8,
      maxCandidateFraction = TermIndex.ExactUnbounded)
    val dir = tmpDir()
    TermIndex.build(spark, docs240, "doc_id", "text", dir, cfg)
    // (a) search-query-shaped probes only → the STATS path: tier-1
    // max-score for the rare-term probes, classic fallback for the
    // all-common one
    val prShort = Seq((1000L, "grp3 filler1 filler2 midtok"),
      (1001L, "grp11 filler3 othertok payload5"),
      (1002L, "filler1 filler2 filler3")).toDF("doc_id", "text")
    val gotS = TermIndex.topKAtScan(spark, dir,
      TermIndex.latestVersion(spark, dir), prShort, "doc_id", "text", 5, cfg)
    val wantS = Terms.bm25TopK(docs240, prShort, "doc_id", "text", 5)
    assert(rows(gotS) === rows(wantS))
    val (okS, fbS) = TermIndex.lastMaxScoreDecision
    assert(rows(TermIndex.topK(spark, dir, prShort, "doc_id", "text", 5,
      cfg)) === rows(wantS))
    assert(okS == 2, s"the rare-term probes must prune via tier 1: ok=$okS fb=$fbS")
    assert(fbS == 1, s"the all-common probe must fall back: ok=$okS fb=$fbS")
    // (b) a document-shaped probe present (17 distinct terms > the
    // tier-1 cap) → the FAST tier-2 path for the whole batch: one
    // positive-idf scoring job, θ₂ read off the ranked output; the
    // all-common probe still falls back (no positive candidates)
    val pr = prShort.unionByName(Seq(
      (1003L, "grp0 grp1 grp2 uniq1 uniq2 uniq3 uniq4 uniq5 uniq6 " +
        "uniq7 uniq8 uniq9 uniq10 midtok othertok filler1 filler2"))
      .toDF("doc_id", "text"))
    val got = TermIndex.topKAtScan(spark, dir,
      TermIndex.latestVersion(spark, dir), pr, "doc_id", "text", 5, cfg)
    val want = Terms.bm25TopK(docs240, pr, "doc_id", "text", 5)
    assert(rows(got) === rows(want))
    val (ok, fb) = TermIndex.lastMaxScoreDecision
    assert(rows(TermIndex.topK(spark, dir, pr, "doc_id", "text", 5,
      cfg)) === rows(want))
    assert(ok == 3, s"three probes must prune via fast tier 2: ok=$ok fb=$fb")
    assert(fb == 1, s"the all-common probe must fall back: ok=$ok fb=$fb")
    // tombstones outstanding: pruning must STILL engage (stats counted
    // from the masked tf slice) and stay pair-exact vs inline over
    // corpus-minus-deleted
    val delIds = docs240.filter(col("doc_id") % 6 === 5).select("doc_id")
    TermIndex.delete(spark, dir, delIds, cfg)
    val reduced = docs240.join(delIds, Seq("doc_id"), "left_anti")
    val gotM = TermIndex.topKAtScan(spark, dir,
      TermIndex.latestVersion(spark, dir), pr, "doc_id", "text", 5, cfg)
    val wantM = Terms.bm25TopK(reduced, pr, "doc_id", "text", 5)
    assert(rows(gotM) === rows(wantM))
    val (okM, fbM) = TermIndex.lastMaxScoreDecision
    assert(rows(TermIndex.topK(spark, dir, pr, "doc_id", "text", 5,
      cfg)) === rows(wantM))
    assert(okM >= 3, s"masked probes must still prune: ok=$okM fb=$fbM")
    spark.catalog.clearCache()
  }

  test("appends == fresh build over the union; global df tracks growth") {
    val d = docs
    val (a, b, c) = (d.filter(col("doc_id") % 3 === 0),
      d.filter(col("doc_id") % 3 === 1), d.filter(col("doc_id") % 3 === 2))
    val dir = tmpDir()
    val cfg = TermIndex.Config(buckets = 8)
    TermIndex.build(spark, a, "doc_id", "text", dir, cfg)
    TermIndex.append(spark, dir, b, "doc_id", "text", cfg)
    val v3 = TermIndex.append(spark, dir, c, "doc_id", "text", cfg)
    assert(v3 == 3)
    val probes = probesOf(d)
    val got = TermIndex.topK(spark, dir, probes, "doc_id", "text", 5, cfg)
    val want = Terms.bm25TopK(d, probes, "doc_id", "text", 5)
    assert(rows(got) === rows(want))
    // a pinned earlier version scores against the SMALLER corpus
    val got1 = TermIndex.topKAt(spark, dir, 1, probes, "doc_id", "text", 5, cfg)
    val want1 = Terms.bm25TopK(a, probes, "doc_id", "text", 5)
    assert(rows(got1) === rows(want1))
    spark.catalog.clearCache()
  }

  test("tiered compaction: segment count bounded, r kept, probes unchanged") {
    val d = docs.limit(60).persist()
    val slices = (0 until 5).map(i => d.filter(col("doc_id") % 5 === i))
    val cfg = TermIndex.Config(buckets = 4, maxSegments = 2)
    val dir = tmpDir()
    val plain = tmpDir() // uncompacted twin: huge cap
    val cfgP = cfg.copy(maxSegments = 100)
    TermIndex.build(spark, slices.head, "doc_id", "text", dir, cfg)
    TermIndex.build(spark, slices.head, "doc_id", "text", plain, cfgP)
    slices.tail.foreach { s =>
      TermIndex.append(spark, dir, s, "doc_id", "text", cfg)
      TermIndex.append(spark, plain, s, "doc_id", "text", cfgP)
    }
    val v = TermIndex.latestVersion(spark, dir)
    val segs = TermIndex.readManifest(spark, dir, v)
    assert(segs.size <= cfg.maxSegments,
      s"segment count ${segs.size} exceeds cap: $segs")
    assert(segs.exists(_._1.startsWith("r")), "compaction must have run")
    val probes = d.limit(7)
    val got = TermIndex.topK(spark, dir, probes, "doc_id", "text", 5, cfg)
    val want = TermIndex.topK(spark, plain, probes, "doc_id", "text", 5, cfgP)
    assert(rows(got) === rows(want))
    // manifest counts == on-disk truth after compaction
    val (nd, nt) = (segs.map(_._2).sum, segs.map(_._3).sum)
    assert(nd == d.count())
    d.unpersist()
    spark.catalog.clearCache()
    assert(nt > 0)
  }

  test("long churn with per-commit gc: disk plateaus at default retention") {
    // 24 applyCdc commits of the SAME 5-doc churn (live corpus size
    // constant) with gc after every commit — tombstones retire at tier
    // folds, old versions/segments are reaped, so total on-disk bytes
    // must stop growing once the fold cycle reaches steady state. A
    // leak (unreaped segments, unretired tombstones, version pile-up)
    // shows as monotone growth instead of a bounded oscillation.
    def du(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(p))
    }
    val d = docs.limit(40).persist()
    val churn = d.filter(col("doc_id") % 8 === 1)
    val cfg = TermIndex.Config(buckets = 4, maxSegments = 3)
    val dir = tmpDir()
    TermIndex.build(spark, d, "doc_id", "text", dir, cfg)
    val dus = (1 to 24).map { i =>
      val ups = churn.select(col("doc_id"),
        concat_ws(" ", lit(s"churn$i"), col("text")).as("text"))
      TermIndex.applyCdc(spark, dir, ups, churn.select("doc_id").limit(0),
        "doc_id", "text", cfg)
      TermIndex.gc(spark, dir, retainLast = 2)
      du(dir)
    }
    val early = dus.slice(7, 15).max
    val late = dus.slice(16, 24).max
    assert(late <= 2 * early,
      s"disk grew past plateau: early window max $early, late max $late " +
        s"(trajectory: ${dus.mkString(",")})")
    // and the index still answers, exactly, after 24 churn commits
    val live = d.join(churn.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(churn.select(col("doc_id"),
        concat_ws(" ", lit("churn24"), col("text")).as("text")))
    assert(rows(TermIndex.topK(spark, dir, d.limit(5), "doc_id", "text", 5, cfg))
      === rows(Terms.bm25TopK(live, d.limit(5), "doc_id", "text", 5)))
    d.unpersist()
    spark.catalog.clearCache()
  }

  test("delete: scores == inline over corpus-minus-deleted; replay; re-add revives") {
    val d = docs
    val delIds = d.filter(col("doc_id") % 5 === 2).select("doc_id")
    val reduced = d.join(delIds, Seq("doc_id"), "left_anti")
    val dir = tmpDir()
    val cfg = TermIndex.Config(buckets = 8)
    TermIndex.build(spark, d, "doc_id", "text", dir, cfg)
    val probes = probesOf(d)
    val v1res = rows(TermIndex.topKAt(spark, dir, 1, probes,
      "doc_id", "text", 5, cfg))
    assert(TermIndex.delete(spark, dir, delIds, cfg) == 2)
    // the load-bearing equality: masked probe == inline BM25 over the
    // reduced corpus — N, total tokens AND df all re-normalized
    val got = rows(TermIndex.topK(spark, dir, probes, "doc_id", "text", 5, cfg))
    val want = rows(Terms.bm25TopK(reduced, probes, "doc_id", "text", 5))
    assert(got === want)
    assert(got != v1res, "fixture: deletion should change some ranking")
    // pinned replay at v1 unchanged
    assert(rows(TermIndex.topKAt(spark, dir, 1, probes,
      "doc_id", "text", 5, cfg)) === v1res)
    // re-add the deleted docs: the strictly-newer segment outranks the
    // tombstone — scores return to the full-corpus ranking
    TermIndex.append(spark, dir, d.join(delIds, Seq("doc_id"), "left_semi"),
      "doc_id", "text", cfg)
    assert(rows(TermIndex.topK(spark, dir, probes, "doc_id", "text", 5, cfg))
      === rows(Terms.bm25TopK(d, probes, "doc_id", "text", 5)))
    spark.catalog.clearCache()
  }

  test("upsert: replaced text scores as new; == inline over the updated corpus") {
    val d = docs
    val dir = tmpDir()
    // deliberate exact document-probe equality — gate opted out
    val cfg = TermIndex.Config(buckets = 8,
      maxCandidateFraction = TermIndex.ExactUnbounded)
    TermIndex.build(spark, d, "doc_id", "text", dir, cfg)
    // rewrite every %7==3 doc's text (dedup-shifted token stream)
    val updated = d.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id"),
        concat(lit("zq zr zs "), col("text")).as("text"))
    assert(TermIndex.upsert(spark, dir, updated, "doc_id", "text", cfg) == 2)
    val after = d.filter(col("doc_id") % 7 =!= 3).unionByName(updated)
    val probes = probesOf(d)
    assert(rows(TermIndex.topK(spark, dir, probes, "doc_id", "text", 5, cfg))
      === rows(Terms.bm25TopK(after, probes, "doc_id", "text", 5)))
    // a probe by the new prefix terms must find ONLY updated docs
    val zq = TermIndex.topK(spark, dir,
      spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(-1L, "zq zr zs")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType)))),
      "doc_id", "text", 10, cfg).collect()
    assert(zq.nonEmpty && zq.forall(_.getLong(2) % 7 == 3))
    spark.catalog.clearCache()
  }

  test("applyCdc: same-batch upsert+delete of one id resolves delete-wins; == inline over the resolved corpus") {
    val d = docs.limit(60).persist()
    val dir = tmpDir()
    val cfg = TermIndex.Config(buckets = 4)
    TermIndex.build(spark, d, "doc_id", "text", dir, cfg)
    val ids = d.select("doc_id").orderBy("doc_id").limit(2)
      .collect().map(_.getLong(0))
    val (conflicted, clean) = (ids(0), ids(1))
    // conflicted: upserted AND deleted in one batch → must vanish;
    // clean: plain upsert → must score as its new text
    val ups = d.filter(col("doc_id").isin(conflicted, clean))
      .select(col("doc_id"),
        concat(lit("zzfresh zzfresh "), col("text")).as("text"))
    val dels = spark.range(1).select(lit(conflicted).as("doc_id"))
    TermIndex.applyCdc(spark, dir, ups, dels, "doc_id", "text", cfg)
    val probes = probesOf(d)
    val resolved = d.filter(col("doc_id") =!= conflicted &&
        col("doc_id") =!= clean)
      .unionByName(ups.filter(col("doc_id") === clean))
    val got = TermIndex.topK(spark, dir, probes, "doc_id", "text", 5, cfg)
    val want = Terms.bm25TopK(resolved, probes, "doc_id", "text", 5)
    assert(rows(got) === rows(want))
    // a probe for the upserted marker token finds clean, never conflicted
    val mp = spark.range(1).select(lit(0L).as("doc_id"),
      lit("zzfresh").as("text"))
    val hits = TermIndex.topK(spark, dir, mp, "doc_id", "text", 10, cfg)
      .collect().map(_.getLong(2)).toSet
    assert(hits.contains(clean) && !hits.contains(conflicted))
    d.unpersist(); spark.catalog.clearCache()
  }

  test("compaction folds tombstones physically and re-bases the masked scalars") {
    val d = docs
    val dir = tmpDir()
    val cfg = TermIndex.Config(buckets = 8, maxSegments = 2)
    val churn = d.filter(col("doc_id") % 4 === 0)
    TermIndex.build(spark, d, "doc_id", "text", dir, cfg)
    // v2: upsert churn (tombstone d00002 + segment s00002)
    TermIndex.upsert(spark, dir, churn, "doc_id", "text", cfg)
    // v3: append trips the cap (3 s-segments > 2) → fold with masking
    val extra = d.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    TermIndex.append(spark, dir, extra, "doc_id", "text", cfg)
    // size-tiered: the corpus base keeps the masked originals and the
    // tombstone stays live to mask them; the churn s-segments fold
    assert(TermIndex.readManifest(spark, dir, 3).map(_._1)
      == Seq("r00001", "r00003"))
    assert(TermIndex.readTombstones(spark, dir, 3)._2.nonEmpty,
      "tombstones must stay while the kept base holds masked copies")
    // scores == inline over the true corpus, tombstones still masking
    val truth = d.unionByName(extra)
    val probes = probesOf(d)
    assert(rows(TermIndex.topK(spark, dir, probes, "doc_id", "text", 5, cfg))
      === rows(Terms.bm25TopK(truth, probes, "doc_id", "text", 5)))
    // maintenance compact folds EVERYTHING: tombstones retire, each
    // churned id appears once physically, scores unchanged
    assert(TermIndex.compact(spark, dir, cfg) == 4)
    assert(TermIndex.readManifest(spark, dir, 4).map(_._1) == Seq("r00004"))
    assert(TermIndex.readTombstones(spark, dir, 4)._2.isEmpty,
      "tombstones must retire when every masked segment folds")
    val raw = spark.read.parquet(s"$dir/segments/r00004/docs")
    assert(raw.count() == raw.select("doc_id").distinct().count(),
      "masked copy survived the fold")
    assert(rows(TermIndex.topK(spark, dir, probes, "doc_id", "text", 5, cfg))
      === rows(Terms.bm25TopK(truth, probes, "doc_id", "text", 5)))
    // retired tombstone datasets are gc-reaped
    TermIndex.gc(spark, dir, retainLast = 1)
    val tombsDir = java.nio.file.Paths.get(s"$dir/tombs")
    assert(!java.nio.file.Files.exists(tombsDir)
      || java.nio.file.Files.list(tombsDir).count() == 0)
    spark.catalog.clearCache()
  }

  test("delete of absent ids: version advances, no tombstone or correction, scores identical") {
    val d = docs
    val dir = tmpDir()
    val cfg = TermIndex.Config(buckets = 8)
    TermIndex.build(spark, d, "doc_id", "text", dir, cfg)
    val probes = probesOf(d)
    val pre = rows(TermIndex.topK(spark, dir, probes, "doc_id", "text", 5, cfg))
    import spark.implicits._
    assert(TermIndex.delete(spark, dir,
      Seq(999999L, 888888L).toDF("doc_id"), cfg) == 2)
    val (masked, tombs) = TermIndex.readTombstones(spark, dir, 2)
    assert(masked == ((0L, 0L)) && tombs.isEmpty)
    assert(rows(TermIndex.topK(spark, dir, probes, "doc_id", "text", 5, cfg)) == pre)
    spark.catalog.clearCache()
  }

  test("maintenance compact reclaims after delete; scores unchanged and == inline") {
    val d = docs
    val dir = tmpDir()
    val cfg = TermIndex.Config(buckets = 8)
    TermIndex.build(spark, d, "doc_id", "text", dir, cfg)
    val delIds = d.filter(col("doc_id") % 3 === 0).select("doc_id")
    TermIndex.delete(spark, dir, delIds, cfg)
    val probes = probesOf(d)
    val pre = rows(TermIndex.topK(spark, dir, probes, "doc_id", "text", 5, cfg))
    assert(TermIndex.compact(spark, dir, cfg) == 3)
    val m = TermIndex.readManifest(spark, dir, 3)
    assert(m.map(_._1) == Seq("r00003"))
    val reduced = d.join(delIds, Seq("doc_id"), "left_anti")
    assert(m.head._2 == reduced.count(), "folded doc count drifted")
    assert(TermIndex.readTombstones(spark, dir, 3)._2.isEmpty)
    val post = rows(TermIndex.topK(spark, dir, probes, "doc_id", "text", 5, cfg))
    assert(post == pre, "compaction changed scores")
    assert(post == rows(Terms.bm25TopK(reduced, probes, "doc_id", "text", 5)))
    spark.catalog.clearCache()
  }

  test("terms-tag mismatch fails loudly; torn append recovers; gc reaps strands") {
    val d = docs.limit(40).persist()
    val dir = tmpDir()
    val cfg = TermIndex.Config(buckets = 4)
    TermIndex.build(spark, d, "doc_id", "text", dir, cfg)
    // probing a unigram index with a bigram config must throw
    intercept[IllegalArgumentException] {
      TermIndex.topK(spark, dir, d, "doc_id", "text", 3,
        cfg.copy(termsTag = "bigram"), Terms.bigramTerms)
    }
    // probing with a different bucket modulus must throw — the bkt=
    // pruning would silently read the wrong partitions
    val bktErr = intercept[IllegalArgumentException] {
      TermIndex.topK(spark, dir, d, "doc_id", "text", 3,
        cfg.copy(buckets = 32))
    }
    assert(bktErr.getMessage.contains("buckets"))
    // torn append: segment written but LATEST never flipped — simulate
    // by writing the stranded segment dir directly
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val stranded = new org.apache.hadoop.fs.Path(s"$dir/segments/s00002")
    f.mkdirs(stranded)
    // index still reads at v1
    val before = rows(TermIndex.topK(spark, dir, probesOf(d),
      "doc_id", "text", 3, cfg))
    // retry the append: overwrites the strand, commits v2
    val batch = docs.filter(col("doc_id") % 7 === 3)
      .withColumn("doc_id", col("doc_id") + 1000000)
    val v2 = TermIndex.append(spark, dir, batch, "doc_id", "text", cfg)
    assert(v2 == 2)
    val after = TermIndex.topK(spark, dir, probesOf(d), "doc_id", "text", 3, cfg)
    assert(after.count() >= before.size)
    // gc: drop v1; its exclusive segments stay (s00001 is shared), but
    // a stranded non-manifest segment is reaped
    val strand2 = new org.apache.hadoop.fs.Path(s"$dir/segments/s00000")
    f.mkdirs(strand2)
    TermIndex.gc(spark, dir, retainLast = 1)
    assert(!f.exists(strand2), "stranded segment must be reaped")
    // the live version still probes
    assert(TermIndex.topK(spark, dir, probesOf(d), "doc_id", "text", 3, cfg)
      .count() > 0)
    d.unpersist()
    spark.catalog.clearCache()
  }

  test("probe scan prunes to the probe-vocabulary bkt= partitions") {
    val dir = tmpDir()
    val cfg = TermIndex.Config(buckets = 16)
    TermIndex.build(spark, docs, "doc_id", "text", dir, cfg)
    // a single-token probe hashes to one bucket
    import spark.implicits._
    val probe = Seq((1L, "spark")).toDF("doc_id", "text")
    val q = TermIndex.topKAtScan(spark, dir,
      TermIndex.latestVersion(spark, dir), probe, "doc_id", "text", 3, cfg)
    val plan = q.queryExecution.executedPlan.toString
    // the partition filter must appear on the scan; a full-index read
    // would carry no bkt filter at all
    assert(plan.contains("bkt"), plan)
    q.collect()
    spark.catalog.clearCache()
  }

  test("estimateProbeCost: pre-flight work estimate equals an independent df recompute; document-shaped probes read as corpus-fraction ~1") {
    import spark.implicits._
    val dir = tmpDir()
    // synthetic corpus with a known term distribution: every doc
    // holds the stopword "common"; doc i additionally holds its
    // unique token and one shared-by-five token
    val corpus = (0L until 60L).map(i =>
      (i, s"common u$i s${i % 12}")).toDF("doc_id", "text")
    val cfg = TermIndex.Config(buckets = 8)
    TermIndex.build(spark, corpus, "doc_id", "text", dir, cfg)

    // independent recompute of what the tier-2 plan scores: per probe,
    // Σ df over its POSITIVE-idf terms (same quantized idf kernel)
    val n = 60L
    val dfMap = corpus
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.TextFunctions.tokens(col("text")))).as("tok"))
      .distinct().groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def idfPos(tok: String): Option[Long] = dfMap.get(tok).flatMap { df =>
      val q = spark.range(1).select(
        lit(df).as("df"), lit(n).as("n"),
        expr(graft.operators.Terms.bm25IdfSql).as("idf_q"))
        .head().getLong(2)
      if (q >= 1) Some(df) else None
    }
    def expected(probeTexts: Seq[String]): (Long, Long) = {
      val per = probeTexts.map(
        _.split(" ").distinct.toSeq.flatMap(idfPos).sum)
      (per.sum, per.max)
    }

    // search-query-shaped probe: one rare term → candidate fraction
    // ≈ 1/n
    val searchProbe = Seq((100L, "u7")).toDF("doc_id", "text")
    val cSearch = TermIndex.estimateProbeCost(spark, dir, searchProbe,
      "doc_id", "text", cfg)
    val (wantS, wantSMax) = expected(Seq("u7"))
    assert(cSearch.scoredPostings == wantS &&
      cSearch.maxProbePostings == wantSMax &&
      cSearch.probeCount == 1L && cSearch.corpusDocs == n, cSearch.toString)
    assert(cSearch.candidateFraction <= 0.05, cSearch.toString)

    // document-shaped probe batch: texts holding MANY unique tokens →
    // the positive-idf candidate mass approaches the corpus
    val docProbes = (0 until 3).map(p =>
      (200L + p, (0 until 60).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val cDoc = TermIndex.estimateProbeCost(spark, dir, docProbes,
      "doc_id", "text", cfg)
    val (wantD, wantDMax) = expected(
      Seq.fill(3)((0 until 60).map(i => s"u$i").mkString(" ")))
    assert(cDoc.scoredPostings == wantD &&
      cDoc.maxProbePostings == wantDMax && cDoc.probeCount == 3L,
      cDoc.toString)
    assert(cDoc.candidateFraction > 0.8,
      s"document-shaped batch must read as corpus-fraction ~1: $cDoc")

    // a probe of nothing but unknown terms costs zero
    val cNone = TermIndex.estimateProbeCost(spark, dir,
      Seq((300L, "zzz qqq")).toDF("doc_id", "text"), "doc_id", "text", cfg)
    assert(cNone.scoredPostings == 0L && cNone.candidateFraction == 0.0,
      cNone.toString)
  }

  test("probe-cost gate (default on): document-shaped batches refuse before any posting is read; search probes pass untouched; ExactUnbounded opts out") {
    import spark.implicits._
    val dir = tmpDir()
    val corpus = (0L until 60L).map(i =>
      (i, s"common u$i s${i % 12}")).toDF("doc_id", "text")
    val cfg = TermIndex.Config(buckets = 8) // default gate 0.25
    TermIndex.build(spark, corpus, "doc_id", "text", dir, cfg)
    // search-query-shaped probe: prices far below the gate, runs the
    // normal exact plan untouched
    val searchProbe = Seq((100L, "u7 s3")).toDF("doc_id", "text")
    val hits = TermIndex.topK(spark, dir, searchProbe, "doc_id", "text",
      3, cfg).collect()
    assert(hits.nonEmpty)
    // document-shaped batch: fails FAST with the priced estimate — the
    // carried cost must equal what estimateProbeCost reports (the
    // spec-pinned count-sized pricing), and the message must carry the
    // routing guidance
    val docProbes = (0 until 3).map(p =>
      (200L + p, (0 until 60).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val want = TermIndex.estimateProbeCost(spark, dir, docProbes,
      "doc_id", "text", cfg)
    val e = intercept[graft.operators.ProbeCostExceededException] {
      TermIndex.topK(spark, dir, docProbes, "doc_id", "text", 3, cfg)
    }
    assert(e.cost == want, s"gate priced ${e.cost}, estimate says $want")
    assert(e.getMessage.contains("hybridRrfIndexed") &&
      e.getMessage.contains("ExactUnbounded"), e.getMessage)
    // explicit opt-out: the same batch runs the deliberate exact plan
    val exact = TermIndex.topK(spark, dir, docProbes, "doc_id", "text",
      3, cfg.copy(maxCandidateFraction = TermIndex.ExactUnbounded))
      .collect()
    assert(exact.nonEmpty)
    spark.catalog.clearCache()
  }
}
