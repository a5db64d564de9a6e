package graft

import graft.operators.{Chunking, Dedup, MinhashIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Self-stress harness for the dedup/index family at ~10× the driver's
 * bench scale (run against tools/gen_stress_corpus.py output) — the
 * canary for superlinear surprises (pair-space blowups, band-table
 * file-count growth, hot-shingle array growth) before any larger SF.
 * Prints ONE JSON line: per-query seconds + the health metrics that
 * would go superlinear first. Not part of the driver contract; the
 * artifact is committed as STRESS_r{N}.json.
 *
 * Usage: Test/runMain graft.StressBench <corpusDir>
 */
object StressBench {
  private def loadAvg(): Seq[Double] = {
    val s = scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")
    s.take(3).map(_.toDouble).toSeq
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_stress")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      // per-phase commit attribution for adjudication runs
      // (GRAFT_IVF_PROFILE=true env; default off, costs nothing)
      .config("graft.ivf.profile",
        sys.env.getOrElse("GRAFT_IVF_PROFILE", "false"))
      // the scatter phases adjudicate the merge-on-read OVERLAY path's
      // trajectory; the production default only engages it above ~1M
      // touched rows (below that a bucket rewrite is cheaper than the
      // overlay machinery — an absolute-cost property), which every
      // test-scale table is under. Zero the floor so the artifact
      // measures the path that 100 TB deployments actually run; the
      // ratio and budget terms of the decision stay at their defaults.
      .config("graft.mergetable.scatter.minRows", "0")
      // round 14: the scatter refreshes stage candidate-pushdown reads
      // (MergeTable.pruneVals — an In of up to 512 key literals);
      // above this threshold Spark pushes only a min/max RANGE, which
      // scattered candidates span entirely — same conf GraftSession
      // sets
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "512")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$dir/documents.parquet").persist()
    val nDocs = docs.count()
    val loadBefore = loadAvg()

    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val health = scala.collection.mutable.LinkedHashMap[String, Long]()
    def time[T](tag: String)(f: => T): T = {
      // phase marker on stderr: a mid-run crash (OOM, executor loss)
      // is attributable to its phase without any artifact surviving
      System.err.println(f"[stress-phase] $tag start")
      val t0 = System.nanoTime()
      val x = f
      times(tag) = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[stress-phase] $tag ${times(tag)}%.1fs")
      x
    }
    // source-read accounting (round 14): per-phase records/bytes read
    // from sources — the read-SIZE counters behind the scatter-refresh
    // pruning claim (a candidate-pushdown read must stay ~batch-sized
    // while the corpus grows 100×). Listener events are async; the
    // settle sleeps OUTSIDE the timed block bound attribution error
    // without touching the phase timings.
    val inRec = new java.util.concurrent.atomic.AtomicLong
    val inBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            inRec.addAndGet(m.inputMetrics.recordsRead)
            inBytes.addAndGet(m.inputMetrics.bytesRead)
          }
        }
      })
    def readCounted[T](tag: String)(f: => T): T = {
      Thread.sleep(400)
      val (r0, b0) = (inRec.get, inBytes.get)
      val x = f
      Thread.sleep(400)
      health(tag + "_records_in") = inRec.get - r0
      health(tag + "_bytes_in") = inBytes.get - b0
      x
    }

    health("n_docs") = nDocs
    health("exact_dup_groups") = time("dedup_exact") {
      Dedup.exact(docs, "doc_id", "text")
        .filter(col("n_copies") > 1).count()
    }
    val pairs = time("dedup_minhash") {
      val p = Dedup.minhashDupPairs(docs, "doc_id", "text").persist()
      val n = p.count(); health("minhash_pairs") = n; p
    }
    time("dedup_components") {
      health("components") =
        Dedup.connectedComponents(pairs).select("component").distinct().count()
    }
    pairs.unpersist()

    // exact duplicate-span removal (round 8): the boilerplate sentence
    // shared by ~30% of docs is exactly the degenerate hot-gram class —
    // its every-occurrence-but-first cut volume is the metric that
    // would go superlinear if the gram aggregation or the doc-keyed
    // cut fold were shape-wrong
    time("dup_spans") {
      val agg = Chunking.dupSpanRemove(docs, "doc_id", "text", 8)
        .agg(sum("dup_windows"), sum("cut_tokens")).collect()(0)
      health("dupspan_windows") = agg.getLong(0)
      health("dupspan_cut_tokens") = agg.getLong(1)
    }

    // index lifecycle at stress scale: build over 85%, then a
    // CONTINUOUS-INGEST LOOP — ingest + per-commit gc, the shape the
    // streaming wrappers run — then a steady-state probe of an
    // un-ingested batch (probing an indexed batch would double its
    // docs in the verification set and time a workload production
    // never runs)
    val idx = java.nio.file.Files.createTempDirectory("graft_stress_idx")
      .toString + "/idx"
    val ingestBatches = (0 until 2).map(i => docs.filter(col("doc_id") % 20 === i))
    val probeBatch = docs.filter(col("doc_id") % 20 === 2)
    val base = docs.filter(col("doc_id") % 20 >= 3)
    time("idx_build")(MinhashIndex.build(spark, base, "doc_id", "text", idx))
    ingestBatches.zipWithIndex.foreach { case (b, i) =>
      time(s"idx_ingest_${i + 1}") {
        val p = MinhashIndex.ingest(spark, idx, b, "doc_id", "text")
        health(s"idx_ingest${i + 1}_pairs") = p.count(); p.unpersist()
        MinhashIndex.gc(spark, idx, retainLast = 2)
      }
    }
    time("idx_probe_steady") {
      MinhashIndex.incrementalDupPairs(spark, idx, probeBatch, "doc_id", "text").count()
    }

    // the metrics that would grow superlinearly if the shape is wrong
    val latest = MinhashIndex.latestVersion(spark, idx)
    def countFiles(p: String): Long = {
      val d = new java.io.File(p)
      if (!d.exists) -1 else d.listFiles.count(_.getName.endsWith(".parquet")).toLong
    }
    def countDirs(p: String): Long = {
      val d = new java.io.File(p)
      if (!d.exists) -1 else d.listFiles.count(_.isDirectory).toLong
    }
    // v***** dirs only — index roots also hold segments/tombs/claims
    // dirs (claims/ is new this round: the writer-exclusion protocol)
    def countVersionDirs(p: String): Long = {
      val d = new java.io.File(p)
      if (!d.exists) -1
      else d.listFiles.count(f => f.isDirectory &&
        f.getName.matches("v\\d+")).toLong
    }
    health("band_files_latest") = countFiles(f"$idx/v$latest%05d/bands")
    health("hot_shingles") =
      spark.read.parquet(f"$idx/v$latest%05d/hot").count()
    health("df_rows") = spark.read.parquet(f"$idx/v$latest%05d/df").count()
    health("mh_versions_on_disk") = countVersionDirs(idx)

    // minhash tombstone delete (round 9): the commit writes only the
    // id list + batch-sized corrections, so its cost must stay
    // near-constant per 10x data like tidx_delete/ivf_delete — and the
    // masked probe must never pair a deleted id
    val mhDel = docs.filter(col("doc_id") % 50 === 11).select("doc_id")
    time("mh_delete")(
      MinhashIndex.deleteFromIndex(spark, idx, mhDel, "doc_id"))
    val mhAfter = time("mh_probe_after_delete") {
      MinhashIndex.incrementalDupPairs(spark, idx, probeBatch,
        "doc_id", "text").collect()
    }
    health("mh_del_pairs") = mhAfter.length.toLong
    health("mh_del_deleted_hits") = mhAfter.count(r =>
      r.getLong(0) % 50 == 11 || r.getLong(1) % 50 == 11).toLong

    // --- DigestIndex (persisted exact dedup, round 9 session 5): the
    // fourth family under the same discipline — build + an ingest loop
    // with per-commit gc that trips the tier fold in-loop
    // (maxSegments=3, build + 4 ingests), then TWO steady-state probes:
    // a mostly-novel batch (the crawl steady state — the bloom pass
    // should keep its verify scan candidate-sized, so its cost must
    // stay flat per 10x corpus) and a duplicate-heavy batch (every row
    // survives the blooms — the verify-join upper bound). Delete +
    // masked re-probe pins the tombstone path at stress scale.
    import graft.operators.DigestIndex
    val didxDir = java.nio.file.Files.createTempDirectory("graft_stress_didx")
      .toString + "/idx"
    val dCfg = DigestIndex.Config(maxSegments = 3)
    time("didx_build") {
      val p = DigestIndex.build(spark,
        docs.filter(col("doc_id") % 20 >= 8), "doc_id", "text", didxDir, dCfg)
      health("didx_build_pairs") = p.count(); p.unpersist()
    }
    (0 until 4).foreach { i =>
      time(s"didx_ingest_${i + 1}") {
        val p = DigestIndex.ingest(spark, didxDir,
          docs.filter(col("doc_id") % 20 === i), "doc_id", "text", dCfg)
        health(s"didx_ingest${i + 1}_pairs") = p.count(); p.unpersist()
        DigestIndex.gc(spark, didxDir, retainLast = 2)
      }
    }
    // mostly-novel probe: un-ingested slice with re-id'd fresh texts —
    // only the corpus's internal dup structure can propose candidates
    val dNovel = docs.filter(col("doc_id") % 20 === 5)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), lit(" didxnovel"), col("doc_id")).as("text"))
    time("didx_probe_novel") {
      health("didx_novel_pairs") =
        DigestIndex.dupPairs(spark, didxDir, dNovel, "doc_id", "text", dCfg)
          .count()
    }
    // duplicate-heavy probe: re-id'd byte-identical copies of indexed
    // docs — every row passes the blooms and reaches the verify join
    val dDup = docs.filter(col("doc_id") % 20 === 9)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
    time("didx_probe_dup") {
      health("didx_dup_pairs") =
        DigestIndex.dupPairs(spark, didxDir, dDup, "doc_id", "text", dCfg)
          .count()
    }
    // delete a subset of the dup probe's own canonicals (%100==9 ⊂
    // %20==9), so the masked re-probe must actually drop those pairs —
    // a mask that misses would keep answering with deleted ids
    val dDel = docs.filter(col("doc_id") % 100 === 9).select("doc_id")
    time("didx_delete")(DigestIndex.delete(spark, didxDir, dDel, "doc_id"))
    val dAfter = time("didx_probe_after_delete") {
      DigestIndex.dupPairs(spark, didxDir, dDup, "doc_id", "text", dCfg)
        .collect()
    }
    health("didx_del_pairs") = dAfter.length.toLong
    // only CORPUS ids (< the probe's +2e7 re-id offset) can be deleted
    // canonicals — a within-batch canonical whose original id happens
    // to be ≡9 (mod 100) is a legitimate re-pair, not a mask failure
    health("didx_del_deleted_hits") =
      dAfter.count(r => r.getLong(1) < 20000000L &&
        r.getLong(1) % 100 == 9).toLong
    health("didx_segments_in_manifest") = DigestIndex.readManifest(spark,
      didxDir, DigestIndex.latestVersion(spark, didxDir)).length.toLong
    health("didx_segment_dirs_on_disk") = countDirs(s"$didxDir/segments")
    health("didx_versions_on_disk") = countVersionDirs(didxDir)

    // --- IVF/ANN family at the same scale: deterministic 64-dim
    // feature-hash embeddings derived from the text (near-dup docs →
    // near-dup vectors, so the index sees the same duplicate
    // structure), then build + an append LOOP with a tight segment cap
    // and per-commit gc — size compactions fire DURING the loop, and
    // the health metrics pin what would grow without bound if tiering
    // or gc were shape-wrong.
    import graft.operators.IvfIndex
    val dim = 64
    val toks = split(col("text"), "\\s+")
    val fvec = array((0 until dim).map(b =>
      size(filter(toks, t => pmod(xxhash64(t), lit(dim.toLong)) === b))
        .cast("float")): _*)
    val emb = docs.select(col("doc_id").as("vec_id"), fvec.as("embedding"))
      .persist()
    emb.count()
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_stress_ivf")
      .toString + "/idx"
    val ivfCfg = IvfIndex.Config(dim = dim, nList = 16, iters = 2,
      maxSegments = 3)
    val ivfBase = emb.filter(col("vec_id") % 20 >= 8)
    time("ivf_build")(
      IvfIndex.build(spark, ivfBase, "vec_id", "embedding", ivfDir, ivfCfg))
    (0 until 8).foreach { i =>
      time(s"ivf_append_${i + 1}") {
        IvfIndex.append(spark, ivfDir,
          emb.filter(col("vec_id") % 20 === i), "vec_id", "embedding", ivfCfg)
        IvfIndex.gc(spark, ivfDir, retainLast = 2)
      }
    }
    val queries = emb.filter(col("vec_id") < 50)
    time("ivf_probe") {
      health("ivf_topk_rows") = IvfIndex.topK(spark, ivfDir, queries,
        "vec_id", "embedding", k = 10).count()
    }
    val ivfLatest = IvfIndex.latestVersion(spark, ivfDir)
    health("ivf_segments_in_manifest") =
      IvfIndex.readSegments(spark, ivfDir, ivfLatest).length.toLong
    health("ivf_segment_dirs_on_disk") = countDirs(s"$ivfDir/segments")
    health("ivf_versions_on_disk") = countVersionDirs(ivfDir)

    // --- IVF-PQ twin: same data, same append/gc/compaction loop, but
    // segments carry PQ codes and steady-state probes ADC-score the
    // (id, codes, pnorm) stream instead of reading vectors — the
    // persisted-index IO shape that matters at 100 TB. Health pins
    // probe recall vs the exact probe over the SAME index, so the
    // speed/recall trade is measured, not assumed.
    val pqDir = java.nio.file.Files.createTempDirectory("graft_stress_ivfpq")
      .toString + "/idx"
    val pqCfg = ivfCfg.copy(pq = Some(IvfIndex.PqConfig()))
    time("ivfpq_build")(
      IvfIndex.build(spark, ivfBase, "vec_id", "embedding", pqDir, pqCfg))
    (0 until 8).foreach { i =>
      time(s"ivfpq_append_${i + 1}") {
        IvfIndex.append(spark, pqDir,
          emb.filter(col("vec_id") % 20 === i), "vec_id", "embedding", pqCfg)
        IvfIndex.gc(spark, pqDir, retainLast = 2)
      }
    }
    time("ivfpq_probe") {
      health("ivfpq_topk_rows") = IvfIndex.topK(spark, pqDir, queries,
        "vec_id", "embedding", k = 10).count()
    }
    val exactPairs = IvfIndex.topK(spark, pqDir, queries,
      "vec_id", "embedding", k = 10, usePq = false)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pqPairs = IvfIndex.topK(spark, pqDir, queries,
      "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    health("ivfpq_recall_pct") =
      if (exactPairs.isEmpty) 100L
      else 100L * (exactPairs & pqPairs).size / exactPairs.size
    // the stress corpus's feature-hash embeddings are near-noise — the
    // worst case for ADC ordering, so default-refine recall degrades
    // with corpus size by construction. Sweep the query-time re-rank
    // knob to pin that recall is recoverable WITHOUT touching the
    // stored index (real embeddings cluster; this is the floor).
    val pqPairsWide = IvfIndex.topK(spark, pqDir, queries,
      "vec_id", "embedding", k = 10, refine = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    health("ivfpq_recall_refine64_pct") =
      if (exactPairs.isEmpty) 100L
      else 100L * (exactPairs & pqPairsWide).size / exactPairs.size
    health("ivfpq_segments_in_manifest") = IvfIndex.readSegments(spark, pqDir,
      IvfIndex.latestVersion(spark, pqDir)).length.toLong
    // emb stays persisted through the CDC + churn phases below — the
    // harness times INDEX machinery, not re-derivation of the fixture
    // embedding expression (64 array aggregations per row; unpersisting
    // here made every churn commit re-pay ~2 s of fvec recompute per
    // batch materialization at 50k and drowned the index costs)

    // --- TermIndex (persisted BM25) triplet of the same discipline:
    // build + 8 appends with per-commit gc and in-loop tiered
    // compaction (maxSegments=3), then a steady-state probe. Health
    // pins the segment/version counts AND pair-equality against the
    // inline bm25TopK over the identical union corpus — the index's
    // exactness contract at stress scale, not just at spec scale.
    import graft.operators.{TermIndex, Terms}
    val tidxDir = java.nio.file.Files.createTempDirectory("graft_stress_tidx")
      .toString + "/idx"
    // deliberate exact floor timing — document-shaped probes, gate off
    val tCfg = TermIndex.Config(buckets = 32, maxSegments = 3,
      maxCandidateFraction = TermIndex.ExactUnbounded)
    val tBase = docs.filter(col("doc_id") % 20 >= 8)
    time("tidx_build")(
      TermIndex.build(spark, tBase, "doc_id", "text", tidxDir, tCfg))
    (0 until 8).foreach { i =>
      time(s"tidx_append_${i + 1}") {
        TermIndex.append(spark, tidxDir,
          docs.filter(col("doc_id") % 20 === i), "doc_id", "text", tCfg)
        TermIndex.gc(spark, tidxDir, retainLast = 2)
      }
    }
    val tProbes = docs.filter(col("doc_id") < 50)
    time("tidx_probe_steady") {
      health("tidx_topk_rows") = TermIndex.topK(spark, tidxDir, tProbes,
        "doc_id", "text", k = 5, tCfg).count()
    }
    // max-score engagement at stress scale (round 9): how many probes
    // ran the pruned plan vs fell back to full postings scoring
    health("tidx_pruned_probes") = TermIndex.lastMaxScoreDecision._1
    health("tidx_fallback_probes") = TermIndex.lastMaxScoreDecision._2
    // base (%20 >= 8) plus the eight appended slices (%20 in 0..7)
    // reconstruct the full corpus — the inline twin scores all of it
    val inlinePairs = time("tidx_inline_equiv") {
      Terms.bm25TopK(docs, tProbes, "doc_id", "text", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    }
    val idxPairs = TermIndex.topK(spark, tidxDir, tProbes,
      "doc_id", "text", 5, tCfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    health("tidx_equals_inline") = if (idxPairs == inlinePairs) 1L else 0L
    val tLatest = TermIndex.latestVersion(spark, tidxDir)
    health("tidx_segments_in_manifest") =
      TermIndex.readManifest(spark, tidxDir, tLatest).length.toLong
    health("tidx_segment_dirs_on_disk") = countDirs(s"$tidxDir/segments")
    health("tidx_versions_on_disk") = countVersionDirs(tidxDir)

    // --- CDC phase (round-8 session 2): delete 2% and upsert 2% on
    // BOTH LSM indexes, then re-probe. The timings pin the delete-path
    // cost model (id-list write + narrow docs-stats scan, never a
    // segment rewrite) at stress scale; health pins exactness — the
    // masked BM25 probe must equal the inline scorer over the RESOLVED
    // corpus, and the IVF probe must never answer a deleted id.
    val tDel = docs.filter(col("doc_id") % 50 === 7).select("doc_id")
    time("tidx_delete")(TermIndex.delete(spark, tidxDir, tDel, tCfg))
    val tUp = docs.filter(col("doc_id") % 50 === 9)
      .select(col("doc_id"),
        concat_ws(" ", lit("cdcmarker"), col("text")).as("text"))
    time("tidx_upsert")(
      TermIndex.upsert(spark, tidxDir, tUp, "doc_id", "text", tCfg))
    time("tidx_probe_after_cdc") {
      health("tidx_cdc_topk_rows") = TermIndex.topK(spark, tidxDir,
        tProbes, "doc_id", "text", 5, tCfg).count()
    }
    val resolved = docs
      .filter(col("doc_id") % 50 =!= 7 && col("doc_id") % 50 =!= 9)
      .unionByName(tUp)
    val cdcInline = time("tidx_cdc_inline_equiv") {
      Terms.bm25TopK(resolved, tProbes, "doc_id", "text", 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    }
    val cdcIdx = TermIndex.topK(spark, tidxDir, tProbes,
      "doc_id", "text", 5, tCfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    health("tidx_cdc_equals_inline") = if (cdcIdx == cdcInline) 1L else 0L

    time("ivf_upsert")(IvfIndex.upsert(spark, ivfDir,
      emb.filter(col("vec_id") % 50 === 9), "vec_id", "embedding", ivfCfg))
    time("ivf_delete")(IvfIndex.delete(spark, ivfDir,
      emb.filter(col("vec_id") % 50 === 7).select("vec_id"), "vec_id"))
    val cdcAnn = time("ivf_probe_after_cdc") {
      IvfIndex.topK(spark, ivfDir, queries, "vec_id", "embedding", k = 10)
        .collect()
    }
    health("ivf_cdc_topk_rows") = cdcAnn.length.toLong
    health("ivf_cdc_deleted_hits") =
      cdcAnn.count(_.getLong(2) % 50 == 7).toLong

    // √n retrain: the amortized maintenance rewrite continuous ingest
    // schedules (the drift guard triggers the same one on skew) — list
    // count grows to ⌈√n⌉, cutting the probe's per-list candidate mass
    // from n/nList to √n. ivf_probe above stays the r8-comparable
    // fixed-16-list point; the pair (ivf_retrain, ivf_probe_retrained)
    // pins the amortized cost and the probe payoff at every scale, and
    // the churn below then runs against the retrained index — the
    // actual steady state of a long-lived deployment.
    time("ivf_retrain")(IvfIndex.retrain(spark, ivfDir, ivfCfg))
    health("ivf_lists_after_retrain") =
      IvfIndex.readCentroids(spark, ivfDir,
        IvfIndex.latestVersion(spark, ivfDir)).length.toLong
    time("ivf_probe_retrained") {
      health("ivf_retrained_topk_rows") = IvfIndex.topK(spark, ivfDir,
        queries, "vec_id", "embedding", k = 10).count()
    }

    // --- Long CDC churn (round 9, verdict item 6): 60 applyCdc
    // commits of pure churn (the same 2% of docs re-written each
    // round) against the BM25 index with per-commit gc at the default
    // retention. Live corpus size is constant, so total disk MUST
    // plateau — tombstones retire at tier folds, gc reaps old
    // versions/segments, and the tiered r-merges amortize. The du
    // trajectory at commits 10..60 is the artifact: a leak (unreaped
    // segments, unretired tombstones, version pile-up) shows as
    // monotone growth between c20 and c60 instead of a plateau.
    def du(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(p))
    }
    val churn = docs.filter(col("doc_id") % 50 === 13)
    time("tidx_cdc_churn_60") {
      (1 to 60).foreach { i =>
        val ups = churn.select(col("doc_id"),
          concat_ws(" ", lit(s"churn$i"), col("text")).as("text"))
        TermIndex.applyCdc(spark, tidxDir, ups,
          churn.select("doc_id").limit(0), "doc_id", "text", tCfg)
        TermIndex.gc(spark, tidxDir, retainLast = 2)
        if (i % 10 == 0)
          health(s"tidx_churn_disk_c$i") = du(tidxDir)
      }
    }
    health("tidx_churn_versions_on_disk") = countVersionDirs(tidxDir)
    health("tidx_churn_segment_dirs") = countDirs(s"$tidxDir/segments")
    // the index still answers after 60 churn commits
    health("tidx_churn_topk_rows") = TermIndex.topK(spark, tidxDir,
      tProbes, "doc_id", "text", 5, tCfg).count()

    // FIXED-SIZE churn A/B (r15 punch item 6): the 2%-churn batch
    // above GROWS with the corpus, so its per-commit trajectory mixes
    // batch-size-linear cost with any shape-wrong scale term. This
    // phase commits a ~200-doc batch (CONSTANT count at every scale) —
    // a flat per-commit cost across the triplet adjudicates the
    // residual as batch-size-linear; growth here would be shape-wrong.
    val fixedStride = math.max(1L, nDocs / 200)
    val fixedChurn = docs.filter(col("doc_id") % fixedStride === 3)
    health("tidx_churn_fixed_batch_rows") = fixedChurn.count()
    time("tidx_cdc_churn_fixed12") {
      (1 to 12).foreach { i =>
        val ups = fixedChurn.select(col("doc_id"),
          concat_ws(" ", lit(s"fchurn$i"), col("text")).as("text"))
        TermIndex.applyCdc(spark, tidxDir, ups,
          fixedChurn.select("doc_id").limit(0), "doc_id", "text", tCfg)
        TermIndex.gc(spark, tidxDir, retainLast = 2)
      }
    }
    // the index still answers after the fixed-batch churn
    health("tidx_churn_fixed_topk_rows") = TermIndex.topK(spark, tidxDir,
      tProbes, "doc_id", "text", 5, tCfg).count()

    // same discipline for the ANN index: 30 re-embed churn commits
    val vchurn = emb.filter(col("vec_id") % 50 === 13)
      .select(col("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    time("ivf_cdc_churn_30") {
      (1 to 30).foreach { i =>
        val ups = if (i % 2 == 0) vchurn
          else vchurn.select(col("vec_id"),
            transform(col("embedding"), x => -x).as("embedding"))
        IvfIndex.applyCdc(spark, ivfDir, ups,
          vchurn.select("vec_id").limit(0), "vec_id", "embedding", ivfCfg)
        IvfIndex.gc(spark, ivfDir, retainLast = 2)
        if (i % 10 == 0)
          health(s"ivf_churn_disk_c$i") = du(ivfDir)
      }
    }
    health("ivf_churn_versions_on_disk") = countVersionDirs(ivfDir)
    health("ivf_churn_segment_dirs") = countDirs(s"$ivfDir/segments")
    // frozen-list accounting (round 11): the operational alarm for
    // irreducible clumps — if churn froze lists, their mass fraction
    // is the probe-latency exposure retrain() remediates
    val ivfH = IvfIndex.health(spark, ivfDir)
    health("ivf_frozen_lists") = ivfH.frozenLists.toLong
    health("ivf_frozen_mass_pct") =
      math.round(ivfH.frozenMassFraction * 100.0)
    health("ivf_tombstone_datasets") = ivfH.tombstoneDatasets.toLong

    // --- ADVERSARIAL frozen-list phase (round 12): the steady-state
    // churn above reads frozen 0/0 because the corpus has no
    // identical-vector clumps — this phase ingests one (the shape
    // k-means cannot spread: tied assignments all pick one centroid),
    // so lists actually FREEZE. Pins, at every scale: (a) nonzero
    // frozen mass in the artifact; (b) probe cost with the clump
    // present — a query AT the clump scans the frozen list's full
    // mass (the documented exposure, bounded by and only by that
    // mass), a far query does not pay it; (c) retrain() as the
    // remediation — the frozen set resets and a clump query then
    // answers entirely from the clump, exactly.
    val clumpN = math.max(1000L, nDocs / 10)
    health("ivf_adv_clump_rows") = clumpN
    val clumpVec = array((0 until dim).map(_ => lit(7.0f)): _*)
    val clump = spark.range(clumpN)
      .select((col("id") + 10000000L).as("vec_id"), clumpVec.as("embedding"))
    time("ivf_adv_clump_ingest_4") {
      (0 until 4).foreach { i =>
        IvfIndex.append(spark, ivfDir,
          clump.filter(col("vec_id") % 4 === i), "vec_id", "embedding",
          ivfCfg)
        IvfIndex.gc(spark, ivfDir, retainLast = 2)
      }
    }
    val advH = IvfIndex.health(spark, ivfDir)
    health("ivf_adv_frozen_lists") = advH.frozenLists.toLong
    health("ivf_adv_frozen_mass_pct") =
      math.round(advH.frozenMassFraction * 100.0)
    val clumpQ = spark.range(2)
      .select((col("id") + 20000000L).as("vec_id"), clumpVec.as("embedding"))
    time("ivf_adv_probe_frozen") {
      health("ivf_adv_frozen_hits") = IvfIndex.topK(spark, ivfDir, clumpQ,
        "vec_id", "embedding", k = 10, nProbe = 4).count()
    }
    time("ivf_adv_probe_far") {
      health("ivf_adv_far_hits") = IvfIndex.topK(spark, ivfDir, queries,
        "vec_id", "embedding", k = 10).count()
    }
    time("ivf_adv_retrain")(IvfIndex.retrain(spark, ivfDir, ivfCfg))
    val advH2 = IvfIndex.health(spark, ivfDir)
    health("ivf_adv_frozen_lists_after_retrain") = advH2.frozenLists.toLong
    health("ivf_adv_frozen_mass_pct_after_retrain") =
      math.round(advH2.frozenMassFraction * 100.0)
    time("ivf_adv_probe_after_retrain") {
      val advTop = IvfIndex.topK(spark, ivfDir, clumpQ,
        "vec_id", "embedding", k = 10, nProbe = 4).collect()
      // every hit for a clump-vector query must BE a clump id (exact
      // distance 0 everywhere in the clump)
      health("ivf_adv_post_retrain_clump_exact") =
        if (advTop.nonEmpty && advTop.forall(_.getLong(2) >= 10000000L))
          1L else 0L
    }
    emb.unpersist()

    // digest-index churn, same discipline: 30 one-commit CDC rounds of
    // the same 2% of docs re-written, per-commit gc at default
    // retention — the plateau assertion for the fourth family (its
    // commits are the cheapest: md5 only, no signatures/centroids/tf)
    val dchurn = docs.filter(col("doc_id") % 50 === 13)
    time("didx_cdc_churn_30") {
      (1 to 30).foreach { i =>
        val ups = dchurn.select(col("doc_id"),
          concat_ws(" ", lit(s"dchurn$i"), col("text")).as("text"))
        DigestIndex.applyCdc(spark, didxDir, ups,
          dchurn.select("doc_id").limit(0), "doc_id", "text", dCfg)
          .unpersist()
        DigestIndex.gc(spark, didxDir, retainLast = 2)
        if (i % 10 == 0)
          health(s"didx_churn_disk_c$i") = du(didxDir)
      }
    }
    health("didx_churn_versions_on_disk") = countVersionDirs(didxDir)
    health("didx_churn_segment_dirs") = countDirs(s"$didxDir/segments")
    // the index still answers after the churn: the un-churned dup
    // probe is unchanged except canonicals deleted earlier
    health("didx_churn_dup_pairs") =
      DigestIndex.dupPairs(spark, didxDir, dDup, "doc_id", "text", dCfg)
        .count()

    // --- Claim-protocol stress (round 10, verdict item 6): N
    // concurrent ingest writers racing one DigestIndex on the stress
    // corpus. Expected: every batch lands exactly once (losers see
    // ConcurrentCommitException having written NOTHING and retry), the
    // version chain is linear (latest == build + N batches — one
    // commit per batch, no double bump, no lost batch), zero claim
    // files stranded, zero unreferenced segments after gc, and the
    // final index answers a full-corpus dup probe exactly.
    val raceDir = java.nio.file.Files
      .createTempDirectory("graft_stress_race").toString + "/idx"
    val raceDocs = docs.filter(col("doc_id") % 10 < 7)
      .select(col("doc_id"),
        concat_ws(" ", col("text"), col("doc_id").cast("string")).as("text"))
      .persist()
    val writers = 6
    DigestIndex.build(spark,
      raceDocs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
      raceDir, dCfg).unpersist()
    val raceBase = DigestIndex.latestVersion(spark, raceDir)
    time("didx_concurrent_ingest_6") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val gate = new java.util.concurrent.CountDownLatch(1)
      def ingestWithRetry(slice: Int): Long = {
        gate.await()
        val b = raceDocs.filter(col("doc_id") % 10 === slice)
        var retries = 0L
        var done = false
        while (!done) {
          try {
            DigestIndex.ingest(spark, raceDir, b, "doc_id", "text", dCfg)
              .unpersist()
            done = true
          } catch {
            case _: graft.operators.ConcurrentCommitException =>
              retries += 1
              require(retries <= 600, "livelock: loser keeps losing")
              Thread.sleep(100)
          }
        }
        retries
      }
      val fs = (1 to writers).map(i =>
        scala.concurrent.Future(ingestWithRetry(i)))
      gate.countDown()
      import scala.concurrent.duration._
      val retries = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs), 1200.seconds)
      pool.shutdown()
      health("race_retries_total") = retries.sum
    }
    health("race_versions_committed") =
      (DigestIndex.latestVersion(spark, raceDir) - raceBase).toLong
    health("race_expected_versions") = writers.toLong
    // no claim strands: every winner's commit retired its claim, every
    // loser released on failure
    health("race_stranded_claims") = Option(
      new java.io.File(s"${raceDir.stripSuffix("/")}/claims").listFiles)
      .map(_.length.toLong).getOrElse(0L)
    // no stranded segments: after gc at retainLast=1 the on-disk
    // segment set equals the final manifest's
    DigestIndex.gc(spark, raceDir, retainLast = 1)
    health("race_segment_dirs_after_gc") = countDirs(s"$raceDir/segments")
    // linearizable content: byte-copies of every ingested doc report
    // that doc as canonical, regardless of commit interleaving
    val raceCopies = raceDocs
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val racePairs = DigestIndex.dupPairs(spark, raceDir, raceCopies,
      "doc_id", "text", dCfg)
      .filter(col("dup_of") === col("doc_id") - 10000000L).count()
    health("race_probe_exact") =
      if (racePairs == raceDocs.count()) 1L else 0L
    raceDocs.unpersist()

    // --- MergeTable / IVM churn (round 11): the downstream-consumer
    // layer under the cross-scale discipline. Refresh batches are
    // CONSTANT-size (200 keys) while the corpus grows 10x per leg, and
    // nBuckets scales to hold ~4k rows per bucket (the documented
    // sizing: BUCKET mass, not corpus mass, is the COW rewrite unit).
    // Expected: churn-phase cost ~FLAT across the triplet — a growing
    // corpus must not make a constant-size refresh dearer — and disk
    // plateaus under per-commit gc. The builds (corpus-sized by
    // definition) are timed separately.
    import graft.operators.{Ivm, MergeTable}
    val mtDir = java.nio.file.Files.createTempDirectory("graft_stress_mt")
      .toString + "/tbl"
    val nBk = math.max(8, (nDocs / 4000).toInt)
    health("mt_buckets") = nBk.toLong
    // the mirror buckets by a BLOCK prefix (doc_id DIV 4000), the
    // time/partition-prefix shape real mirrors use — churn keys are
    // clustered (doc_id < 200 = one block), so the constant batch
    // touches ONE bucket at every scale; a doc_id-hash bucketing would
    // scatter 200 keys over ~all buckets and measure the documented
    // scatter-batch worst case (a corpus rewrite) instead of the
    // steady state
    val mirror = docs.select(expr("doc_id DIV 4000").as("block"),
      col("doc_id"), col("text"))
    // SCALE-MODEL parquet geometry for the maintained-view section: a
    // production bucket holds GBs in ~128 MB row groups / ~1 MB pages,
    // so candidate pushdown prunes at ~1e-4 of table granularity. At
    // 500k test rows the 128 MB default is ONE row group (= nothing to
    // prune); these write-side knobs restore the production RATIO of
    // prune-unit to table so the *_records_in counters measure the
    // path's actual shape. Read-side column-index filtering (page
    // skipping) is on by default.
    val hadoopC = spark.sparkContext.hadoopConfiguration
    hadoopC.setInt("parquet.block.size", 256 * 1024)
    hadoopC.setInt("parquet.page.row.count.limit", 128)
    time("mt_build") {
      MergeTable.build(spark, mtDir, mirror,
        Seq("block", "doc_id"), Seq("block"), nBk)
    }
    val mtKeys = mirror.filter(col("doc_id") < 200).persist()
    mtKeys.count()
    time("mt_churn_12") {
      (1 to 12).foreach { i =>
        val ups = mtKeys.select(col("block"), col("doc_id"),
          concat_ws(" ", lit(s"v$i"), col("text")).as("text"))
        MergeTable.merge(spark, mtDir, ups,
          ups.select("block", "doc_id").limit(0))
        MergeTable.gc(spark, mtDir, retainLast = 2)
        if (i % 4 == 0) health(s"mt_churn_disk_c$i") = du(mtDir)
      }
    }
    health("mt_rows_after_churn") = MergeTable.read(spark, mtDir).count()

    // IVM: groups are contiguous 50-doc blocks, so the constant
    // 200-key churn batch touches a CONSTANT ~4 groups (the
    // steady-state shape — updates cluster); the value is
    // deterministic in the commit number, so before-images are
    // reconstructed arithmetically instead of tracking state.
    val ivmDir = java.nio.file.Files.createTempDirectory("graft_stress_ivm")
      .toString + "/view"
    def ivmBase(of: org.apache.spark.sql.DataFrame) = of.select(
      expr("doc_id DIV 50").as("g"),
      length(col("text")).cast("long").as("v"))
    def churnRows(i: Int) = ivmBase(mtKeys)
      .withColumn("v", col("v") + lit(i * 1000L))
    time("ivm_build") {
      Ivm.create(spark, ivmDir, ivmBase(docs).schema,
        Ivm.Spec(Seq("g"), Seq(Ivm.Count("cnt"), Ivm.Sum("v", "sum_v"),
          Ivm.Max("v", "max_v"))), nBuckets = nBk)
      Ivm.applyDelta(spark, ivmDir, ivmBase(docs), ivmBase(docs).limit(0))
    }
    time("ivm_churn_12") {
      (1 to 12).foreach { i =>
        Ivm.applyDelta(spark, ivmDir, churnRows(i), churnRows(i - 1))
        Ivm.gc(spark, ivmDir, retainLast = 2)
        if (i % 4 == 0) health(s"ivm_churn_disk_c$i") = du(ivmDir)
      }
    }
    health("ivm_groups") = Ivm.readView(spark, ivmDir).count()
    // exactness after the walk: the maintained view equals a
    // from-scratch aggregation of the final netted state
    val ivmWant = ivmBase(docs.filter(col("doc_id") >= 200))
      .unionByName(churnRows(12))
      .groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"),
        max("v").as("max_v"))
    val ivmGot = Ivm.readView(spark, ivmDir)
      .select("g", "cnt", "sum_v", "max_v")
    health("ivm_exact") =
      if (ivmGot.exceptAll(ivmWant).isEmpty &&
          ivmWant.exceptAll(ivmGot).isEmpty) 1L else 0L

    // JoinIvm under the same discipline: fact = docs keyed by a
    // 50-doc "domain", dim = (domain, segment). Churn per commit is
    // CONSTANT two-sided work — the same 200 fact-row update plus 4
    // domains' segment reassignment (the dimension-update fan-out that
    // makes the naive answer a fact re-join; here it reads the 4
    // domains' fact bucket, ~200 z-rows, at every scale).
    import graft.operators.JoinIvm
    val jivmDir = java.nio.file.Files.createTempDirectory("graft_stress_jivm")
      .toString + "/view"
    val factBase = ivmBase(docs).withColumnRenamed("g", "k")
    val nDomains = factBase.agg(max("k")).collect()(0).getLong(0) + 1
    def dimSeg(d: org.apache.spark.sql.Column, shift: Int) =
      concat(lit("g"), pmod(d + lit(shift), lit(7L)).cast("string"))
    val domains = spark.range(nDomains).select(col("id").as("k"))
    def dimRows(shift: Int, hot: Boolean) = {
      val base = if (hot) domains.filter(col("k") < 4) else domains
      base.select(col("k"),
        when(col("k") < 4, dimSeg(col("k"), shift))
          .otherwise(dimSeg(col("k"), 0)).as("seg"))
    }
    def jChurn(i: Int) = ivmBase(mtKeys).withColumnRenamed("g", "k")
      .withColumn("v", col("v") + lit(i * 1000L))
    time("jivm_build") {
      JoinIvm.create(spark, jivmDir, factBase.schema,
        dimRows(0, hot = false).schema, JoinIvm.Spec(
          joinCols = Seq("k"), groupCols = Seq("seg"),
          aggs = Seq(graft.operators.Ivm.Count("cnt"),
            graft.operators.Ivm.Sum("v", "sum_v"))), nBuckets = nBk)
      JoinIvm.applyDelta(spark, jivmDir,
        factBase, factBase.limit(0),
        dimRows(0, hot = false), dimRows(0, hot = false).limit(0))
    }
    time("jivm_churn_12") {
      (1 to 12).foreach { i =>
        JoinIvm.applyDelta(spark, jivmDir,
          jChurn(i), jChurn(i - 1),
          dimRows(i, hot = true), dimRows(i - 1, hot = true))
        JoinIvm.gc(spark, jivmDir, retainLast = 2)
        if (i % 4 == 0) health(s"jivm_churn_disk_c$i") = du(jivmDir)
      }
    }
    // exactness: the maintained rollup equals a from-scratch join of
    // the final netted state
    val jFactFinal = ivmBase(docs.filter(col("doc_id") >= 200))
      .withColumnRenamed("g", "k").unionByName(jChurn(12))
    val jDimFinal = dimRows(12, hot = false)
    val jWant = jFactFinal.join(jDimFinal, "k").groupBy("seg")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
    val jGot = JoinIvm.readView(spark, jivmDir).select("seg", "cnt", "sum_v")
    health("jivm_exact") =
      if (jGot.exceptAll(jWant).isEmpty && jWant.exceptAll(jGot).isEmpty)
        1L else 0L
    health("jivm_segments") = jGot.count()

    // --- SCATTER-BATCH churn (round 12): the phases above churn
    // block-prefix-CLUSTERED keys (the favorable steady state — a
    // constant batch touches ~1 bucket / ~4 groups at every scale).
    // This phase churns a ~200-key batch UNIFORMLY SPREAD over the
    // key space (every `stride`-th doc), so each commit touches
    // ~min(batch, nBuckets) buckets — the documented copy-on-write
    // worst case (≈ a corpus-sized rewrite per commit once batch ≥
    // nBuckets). The measured trajectory across the triplet IS the
    // adjudicated bound: cost/commit ∝ touched-bucket mass, i.e. it
    // GROWS with corpus size by design — the artifact shows by how
    // much, and the exactness flags prove the scattered refreshes
    // stay correct. 6 commits (vs the clustered 12) bound the
    // 500k leg's wall clock; per-commit cost is the signal.
    val stride = math.max(1L, nDocs / 200)
    val skeys = mirror.filter(col("doc_id") >= 200 &&
      col("doc_id") % stride === 7).persist()
    health("mt_scatter_keys") = skeys.count()
    health("mt_scatter_blocks_touched") =
      skeys.select("block").distinct().count()
    health("mt_scatter_buckets_total") = nBk.toLong
    // round 13: scatter batches now commit via the merge-on-read
    // overlay (O(batch) writes for any key distribution, folded at the
    // budget) — the per-mode commit counters pin WHICH path each phase
    // actually took at each scale, and the exactness flags below prove
    // the overlay reconciliation right under churn + gc.
    val modes0 = (MergeTable.cowCommits.get, MergeTable.deltaCommits.get,
      MergeTable.foldCommits.get)
    readCounted("mt_scatter_6") {
      time("mt_scatter_6") {
        (1 to 6).foreach { i =>
          val ups = skeys.select(col("block"), col("doc_id"),
            concat_ws(" ", lit(s"s$i"), col("text")).as("text"))
          MergeTable.merge(spark, mtDir, ups,
            ups.select("block", "doc_id").limit(0))
          MergeTable.gc(spark, mtDir, retainLast = 2)
        }
      }
    }
    health("mt_scatter_delta_commits") =
      MergeTable.deltaCommits.get - modes0._2
    health("mt_scatter_fold_commits") =
      MergeTable.foldCommits.get - modes0._3
    val ovl = MergeTable.overlayStats(spark, mtDir)
    health("mt_scatter_overlay_datasets") = ovl._1.toLong
    health("mt_scatter_overlay_rows") = ovl._2 + ovl._3
    health("mt_scatter_rows") = MergeTable.read(spark, mtDir).count()
    health("mt_scatter_exact") = {
      val got = MergeTable.read(spark, mtDir)
        .filter(col("doc_id") >= 200 && col("doc_id") % stride === 7)
        .filter(col("text").startsWith("s6 ")).count()
      if (got == health("mt_scatter_keys")) 1L else 0L
    }

    // Ivm scatter: the same spread keys as CDC updates — touched
    // GROUPS ≈ batch size, scattered over every z-set bucket
    def ivmScatter(i: Int) = ivmBase(skeys)
      .withColumn("v", col("v") + lit(i * 500L))
    val modesIvm0 = (MergeTable.deltaCommits.get, MergeTable.foldCommits.get,
      MergeTable.keyPrunedReads.get)
    readCounted("ivm_scatter_6") {
      time("ivm_scatter_6") {
        (1 to 6).foreach { i =>
          Ivm.applyDelta(spark, ivmDir, ivmScatter(i), ivmScatter(i - 1))
          Ivm.gc(spark, ivmDir, retainLast = 2)
        }
      }
    }
    health("ivm_scatter_delta_commits") =
      MergeTable.deltaCommits.get - modesIvm0._1
    health("ivm_scatter_fold_commits") =
      MergeTable.foldCommits.get - modesIvm0._2
    // round 14: scatter-shaped refreshes stage the candidate-pushdown
    // read instead of whole touched buckets — prove the path engaged
    health("ivm_scatter_pruned_reads") =
      MergeTable.keyPrunedReads.get - modesIvm0._3
    val ivmWant2 = ivmBase(docs.filter(col("doc_id") >= 200))
      .exceptAll(ivmBase(skeys))
      .unionByName(ivmScatter(6)).unionByName(churnRows(12))
      .groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"),
        max("v").as("max_v"))
    val ivmGot2 = Ivm.readView(spark, ivmDir)
      .select("g", "cnt", "sum_v", "max_v")
    health("ivm_scatter_exact") =
      if (ivmGot2.exceptAll(ivmWant2).isEmpty &&
          ivmWant2.exceptAll(ivmGot2).isEmpty) 1L else 0L

    // JoinIvm scatter: spread fact churn PLUS a spread dim
    // reassignment (every 37th domain) — the dimension-update fan-out
    // now reads ~nDomains/37 fact buckets scattered across the whole
    // table per commit, the two-sided worst case
    def jScatter(i: Int) = ivmBase(skeys).withColumnRenamed("g", "k")
      .withColumn("v", col("v") + lit(i * 500L))
    def dimScatter(shift: Int) = domains
      .filter(col("k") >= 4 && col("k") % 37 === 5)
      .select(col("k"), dimSeg(col("k"), shift).as("seg"))
    health("jivm_scatter_dims") = dimScatter(0).count()
    val modesJ0 = (MergeTable.deltaCommits.get, MergeTable.foldCommits.get,
      MergeTable.keyPrunedReads.get)
    readCounted("jivm_scatter_6") {
      time("jivm_scatter_6") {
        (1 to 6).foreach { i =>
          JoinIvm.applyDelta(spark, jivmDir,
            jScatter(i), jScatter(i - 1),
            dimScatter(i), dimScatter(i - 1))
          JoinIvm.gc(spark, jivmDir, retainLast = 2)
        }
      }
    }
    health("jivm_scatter_delta_commits") =
      MergeTable.deltaCommits.get - modesJ0._1
    health("jivm_scatter_fold_commits") =
      MergeTable.foldCommits.get - modesJ0._2
    health("jivm_scatter_pruned_reads") =
      MergeTable.keyPrunedReads.get - modesJ0._3
    val jFactFinal2 = jFactFinal.exceptAll(jScatter(0))
      .unionByName(jScatter(6))
    val jDimFinal2 = domains.select(col("k"),
      when(col("k") < 4, dimSeg(col("k"), 12))
        .when(col("k") >= 4 && col("k") % 37 === 5, dimSeg(col("k"), 6))
        .otherwise(dimSeg(col("k"), 0)).as("seg"))
    val jWant2 = jFactFinal2.join(jDimFinal2, "k").groupBy("seg")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
    val jGot2 = JoinIvm.readView(spark, jivmDir).select("seg", "cnt", "sum_v")
    health("jivm_scatter_exact") =
      if (jGot2.exceptAll(jWant2).isEmpty && jWant2.exceptAll(jGot2).isEmpty)
        1L else 0L

    // --- OVERLAY READ AMPLIFICATION + FOLD RETIREMENT (round 14) ---
    // (a) ONE scatter-shaped fill batch (every 8th doc) grows the
    //     outstanding overlay to ~its 65536-row default budget at the
    //     500k leg (~97% full) — then time the documented WORST read
    //     state (winner window + seq masks over a full-budget overlay)
    //     against the drained read after the fold;
    // (b) lower the budget so the NEXT scatter commit breaches it: the
    //     budget-triggered FOLD retires the whole overlay in one
    //     versioned rewrite — the amortized O(batch · tableRows/budget)
    //     term, measured at every scale instead of pinned only at unit
    //     scale (r13's fold counters were 0 across the triplet).
    val fillKeys = mirror.filter(col("doc_id") >= 200 &&
      col("doc_id") % 8 === 3).persist()
    health("mt_fill_keys") = fillKeys.count()
    val modesF0 = (MergeTable.deltaCommits.get, MergeTable.foldCommits.get)
    time("mt_overlay_fill") {
      val ups = fillKeys.select(col("block"), col("doc_id"),
        concat_ws(" ", lit("f1"), col("text")).as("text"))
      MergeTable.merge(spark, mtDir, ups,
        ups.select("block", "doc_id").limit(0))
    }
    health("mt_fill_delta_commits") =
      MergeTable.deltaCommits.get - modesF0._1
    val ovlFull = MergeTable.overlayStats(spark, mtDir)
    health("mt_overlay_full_rows") = ovlFull._2 + ovlFull._3
    readCounted("mt_read_overlay_full") {
      time("mt_read_overlay_full") {
        health("mt_read_overlay_full_rows") =
          MergeTable.read(spark, mtDir).count()
      }
    }
    // (b): budget → 512 rows; the next 200-key scatter commit breaches
    // it and folds. Conf-scoped to this phase — production budgets are
    // row-mass-sized, the stress corpus is the scale model.
    spark.conf.set("graft.mergetable.delta.minRows", "512")
    spark.conf.set("graft.mergetable.delta.maxRows", "512")
    readCounted("mt_fold_commit") {
      time("mt_fold_commit") {
        val ups = skeys.select(col("block"), col("doc_id"),
          concat_ws(" ", lit("s7"), col("text")).as("text"))
        MergeTable.merge(spark, mtDir, ups,
          ups.select("block", "doc_id").limit(0))
      }
    }
    spark.conf.unset("graft.mergetable.delta.minRows")
    spark.conf.unset("graft.mergetable.delta.maxRows")
    health("mt_fold_commits") = MergeTable.foldCommits.get - modesF0._2
    val ovlDrained = MergeTable.overlayStats(spark, mtDir)
    health("mt_fold_overlay_rows_after") = ovlDrained._2 + ovlDrained._3
    MergeTable.gc(spark, mtDir, retainLast = 2)
    readCounted("mt_read_drained") {
      time("mt_read_drained") {
        health("mt_read_drained_rows") = MergeTable.read(spark, mtDir).count()
      }
    }
    // exactness across fill + fold: skeys rows carry the fold commit's
    // s7 text, fill-only rows keep f1, nothing else moved
    health("mt_fold_exact") = {
      val overlap = mirror.filter(col("doc_id") >= 200 &&
        col("doc_id") % 8 === 3 && col("doc_id") % stride === 7).count()
      val t = MergeTable.read(spark, mtDir).persist()
      val nS = t.filter(col("text").startsWith("s7 ")).count()
      val nF = t.filter(col("text").startsWith("f1 ")).count()
      val total = t.count()
      t.unpersist()
      if (nS == health("mt_scatter_keys") &&
          nF == health("mt_fill_keys") - overlap &&
          total == nDocs) 1L else 0L
    }
    fillKeys.unpersist()
    skeys.unpersist()
    mtKeys.unpersist()

    // --- Candidate-pushdown EFFECTIVE-REGIME phase (r15 punch item 5).
    // r14's scatter counters measured only 26% row skip because the
    // 500k-model geometry sits ABOVE the page-range law's knee
    // (nCand × pageRows / bucketRows ≈ 8): no candidate set can prune a
    // page whose min/max range covers it. This phase builds a z-set-
    // shaped table AT the knee — 8M scattered keys in ONE bucket,
    // 1000-row pages (law: 512 × 1000 / 8M ≈ 0.064) — the same
    // dimensionless ratio as the production point (512 cands ×
    // 20k-row pages / 1e9-row buckets ≈ 0.01), and measures the REAL
    // read path ([[MergeTable.readBucketsAt]]) whole vs pruned.
    // Synthetic spark.range data (deterministic, no corpus
    // dependency); runs once, on the largest leg only.
    if (nDocs >= 500000) {
      val hconf = spark.sparkContext.hadoopConfiguration
      val pageBefore = hconf.get("parquet.page.row.count.limit")
      hconf.setInt("parquet.page.row.count.limit", 1000)
      val regDir = java.nio.file.Files
        .createTempDirectory("graft_stress_regime").toString + "/tbl"
      val regRows = 8000000L
      // keys id × 1000003: unique, with uniform gaps of 1000003, and
      // within Long range under ANSI mode (8M × 1000003 ≈ 8e12)
      val regBase = spark.range(regRows)
        .select((col("id") * lit(1000003L)).as("k"),
          (col("id") % 1000).as("v"))
      time("prune_regime_build") {
        MergeTable.build(spark, regDir, regBase, keyCols = Seq("k"),
          bucketCols = Seq("k"), nBuckets = 1)
      }
      if (pageBefore == null) hconf.unset("parquet.page.row.count.limit")
      else hconf.set("parquet.page.row.count.limit", pageBefore)
      val regV = MergeTable.latestVersion(spark, regDir)
      val regStep = regRows / 512
      val regCands: Seq[Any] = (0L until 512L)
        .map(i => i * regStep * 1000003L)
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      readCounted("prune_regime_whole") {
        time("prune_regime_whole") {
          noop(MergeTable.readBucketsAt(spark, regDir, regV, Set(0), None))
        }
      }
      readCounted("prune_regime_pruned") {
        time("prune_regime_pruned") {
          noop(MergeTable.readBucketsAt(spark, regDir, regV, Set(0),
            Some(regCands)))
        }
      }
      // exactness: pruned read + the exact key mask every consumer
      // applies == the whole read's restriction to the same keys
      import spark.implicits._
      val regKeys = regCands.map(_.asInstanceOf[Long]).toDF("k")
      val exactP = MergeTable.readBucketsAt(spark, regDir, regV, Set(0),
          Some(regCands))
        .join(broadcast(regKeys), Seq("k"), "left_semi")
      val exactW = MergeTable.readBucketsAt(spark, regDir, regV, Set(0),
          None)
        .join(broadcast(regKeys), Seq("k"), "left_semi")
      health("prune_regime_exact") =
        if (exactP.exceptAll(exactW).isEmpty &&
            exactW.exceptAll(exactP).isEmpty &&
            exactP.count() == 512L) 1L else 0L
      def rmAll(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rmAll)); f.delete(); ()
      }
      rmAll(new java.io.File(regDir).getParentFile)
    }

    val q = times.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString(",")
    val h = health.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val la = (loadBefore ++ loadAvg()).map(v => f"$v%.2f").mkString(",")
    println(s"""{"metric":"stress_total","value":${f"${times.values.sum}%.3f"},""" +
      s""""unit":"sec","queries":{$q},"health":{$h},"loadavg":[$la],""" +
      s""""corpus":"$dir"}""")
    spark.stop()
  }
}
