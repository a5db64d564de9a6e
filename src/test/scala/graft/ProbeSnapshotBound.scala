package graft

import graft.functions.{TextFunctions => TF}
import graft.operators.{IvfIndex, SegmentCache, TermIndex, Terms}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Where the driver-side probe snapshots stop paying: latency of the
  * snapshot path against the Spark scan, and the snapshot's heap, on
  * an index built from `copies` copies of a corpus's documents or
  * embeddings (fresh ids per copy; embeddings shifted by 0.001 per copy
  * so copies do not tie). Prints one JSON line per measurement.
  *
  * TermIndex (`term`: unigrams; `bigram`: bigram terms, as the
  * indexed BM25 queries use): one build plus a 1% delete. Probe batches of growing
  * walk (posting rows the driver scores): ten 3-token search probes,
  * then 1..256 whole documents. Snapshot time is
  * [[TermIndex.localProbe]] with the walk unbounded (probe collect
  * included) plus its top-k, with the segments cached; scan time is
  * [[TermIndex.topKAtScan]] plus a collect, gate off.
  *
  * IvfIndex: an exact build plus a 1% delete, probed with 10, 100 and
  * 1000 queries (walk: the floats of each query's four probed lists):
  * [[IvfIndex.localTopK]] with the walk unbounded against
  * [[IvfIndex.topKAtScan]].
  *
  * Heap: `retained_mb` is the used heap after a full GC with the
  * version's snapshots cached minus the same right after they are
  * dropped; `estimate_mb` is [[SegmentCache.cachedBytes]], the figure
  * the cache's byte bound counts.
  *
  * Usage: Test/runMain graft.ProbeSnapshotBound <sfDir> term|bigram|ivf
  *   <copies> [cpus]
  */
object ProbeSnapshotBound {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val family = args(1)
    val copies = args(2).toInt
    val cpus = args.lift(3).map(_.toInt).getOrElse(4)
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files.createTempDirectory("snapbound")
      .toString + "/idx"
    family match {
      case "term" => term(spark, sf, dir, copies, bigram = false)
      case "bigram" => term(spark, sf, dir, copies, bigram = true)
      case "ivf" => ivf(spark, sf, dir, copies)
    }
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Median wall seconds of `reps` runs after one warm-up run. */
  private def timed(reps: Int)(f: => Unit): Double = {
    f
    median(Seq.fill(reps) {
      val t0 = System.nanoTime
      f
      (System.nanoTime - t0) / 1e9
    })
  }

  private def usedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The load time and heap of the snapshots just loaded for `dir`,
    * which are then dropped (the caller reloads them). */
  private def emitLoad(spark: SparkSession, family: String, dir: String,
                       loadS: Double): Unit = {
    val estimate = SegmentCache.cachedBytes / 1048576.0
    val loaded = usedHeapMb()
    val p = new org.apache.hadoop.fs.Path(dir)
    SegmentCache.dropUnder(p.getFileSystem(
      spark.sparkContext.hadoopConfiguration), p)
    emit("family" -> family, "load_s" -> loadS,
      "retained_mb" -> (loaded - usedHeapMb()), "estimate_mb" -> estimate)
  }

  private def emit(fields: (String, Any)*): Unit =
    println(fields.map {
      case (k, v: String) => s""""$k": "$v""""
      case (k, v: Double) => f""""$k": $v%.4f"""
      case (k, v) => s""""$k": $v"""
    }.mkString("{", ", ", "}"))

  private def term(spark: SparkSession, sf: String, dir: String,
                   copies: Int, bigram: Boolean): Unit = {
    val terms: Column => Column =
      if (bigram) Terms.bigramTerms else TF.tokens
    val family = if (bigram) "bigram" else "term"
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val corpus = (0 until copies).map(c =>
      docs.select((col("doc_id") + c * 10000000L).as("doc_id"), col("text")))
      .reduce(_.unionByName(_))
    val cfg = TermIndex.Config(maxCandidateFraction = TermIndex.ExactUnbounded,
      termsTag = if (bigram) "bigram" else "unigram")
    val t0 = System.nanoTime
    TermIndex.build(spark, corpus, "doc_id", "text", dir, cfg, terms)
    TermIndex.delete(spark, dir, corpus.filter(col("doc_id") % 97 === 3)
      .select("doc_id"), cfg)
    val v = TermIndex.latestVersion(spark, dir)
    val tokens = corpus.select(sum(size(terms(col("text"))))).head.getLong(0)
    emit("family" -> family, "copies" -> copies, "tokens" -> tokens,
      "build_s" -> (System.nanoTime - t0) / 1e9)

    def snap(p: DataFrame) = TermIndex.localProbe(spark, dir, v, p,
      "doc_id", "text", cfg, terms, Long.MaxValue).get
    val tl = System.nanoTime
    snap(docs.limit(1)).topK(5)
    emitLoad(spark, family, dir, (System.nanoTime - tl) / 1e9)
    snap(docs.limit(1))

    val search = docs.filter(col("doc_id") % 41 === 5).limit(10)
      .select((col("doc_id") + 900000000L).as("doc_id"),
        concat_ws(" ", slice(TF.tokens(col("text")), 1, 3)).as("text"))
    val shapes = ("search10", search) +: Seq(1, 4, 16, 64, 256).map(n =>
      (s"docs$n", docs.filter(col("doc_id") % 7 === 2).limit(n)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))))
    for ((name, p0) <- shapes) {
      val p = spark.createDataFrame(p0.collectAsList(), p0.schema)
      val lp = snap(p)
      val snapS = timed(3)(snap(p).topK(5))
      val scanS = timed(3)(TermIndex.topKAtScan(spark, dir, v, p, "doc_id",
        "text", 5, cfg, terms).collect())
      emit("family" -> family, "batch" -> name, "walk" -> lp.walk,
        "scored_postings" -> lp.cost.scoredPostings,
        "snapshot_s" -> snapS, "scan_s" -> scanS)
    }
  }

  private def ivf(spark: SparkSession, sf: String, dir: String,
                  copies: Int): Unit = {
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val dim = emb.head.getSeq[Float](1).length
    val corpus = (0 until copies).map(c =>
      emb.select((col("doc_id") + c * 10000000L).as("doc_id"),
        transform(col("embedding"), x => x + lit(c * 0.001f)).as("embedding")))
      .reduce(_.unionByName(_))
    val cfg = IvfIndex.Config(dim = dim, nList = 32, iters = 2,
      maxImbalance = 1e12)
    val t0 = System.nanoTime
    IvfIndex.build(spark, corpus, "doc_id", "embedding", dir, cfg)
    IvfIndex.delete(spark, dir, corpus.filter(col("doc_id") % 97 === 3)
      .select("doc_id"), "doc_id")
    val v = IvfIndex.latestVersion(spark, dir)
    emit("family" -> "ivf", "copies" -> copies, "vectors" -> corpus.count(),
      "floats" -> corpus.count() * dim,
      "build_s" -> (System.nanoTime - t0) / 1e9)

    def local(q: DataFrame) = IvfIndex.localTopK(spark, dir, v, q,
      "doc_id", "embedding", 5, 4, Long.MaxValue).get
    val tl = System.nanoTime
    local(emb.limit(1))
    emitLoad(spark, "ivf", dir, (System.nanoTime - tl) / 1e9)
    local(emb.limit(1))
    // floats a batch scores: its queries' four nearest lists' rows × dim
    val cents = IvfIndex.readCentroids(spark, dir, v)
    val counts = IvfIndex.readCounts(spark, dir, v)
    def walkOf(q: DataFrame): Long = q.collect().iterator.map { r =>
      val x = r.getSeq[Float](1)
      cents.indices.map { ci =>
        val c = cents(ci)
        val cn = math.sqrt(c.map(a => a * a).sum)
        val dot = x.indices.map(i => x(i).toDouble * c(i)).sum
        (if (cn == 0.0) Double.NegativeInfinity else dot / cn, ci)
      }.sortBy { case (sc, ci) => (-sc, ci) }.take(4)
        .map(l => counts.getOrElse(l._2, 0L)).sum * dim
    }.sum
    for (n <- Seq(10, 100, 1000)) {
      val q0 = emb.filter(col("doc_id") % 2 === 0).limit(n)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("embedding"))
      val q = spark.createDataFrame(q0.collectAsList(), q0.schema)
      val snapS = timed(3)(local(q))
      val scanS = timed(3)(IvfIndex.topKAtScan(spark, dir, v, q, "doc_id",
        "embedding", 5, 4).collect())
      emit("family" -> "ivf", "batch" -> s"queries$n", "walk" -> walkOf(q),
        "snapshot_s" -> snapS,
        "scan_s" -> scanS)
    }
  }
}
