package graft.operators

import graft.functions.VectorExpressions.{dotF, normF}
import graft.io.ParquetFooters
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

/**
 * Similarity search over embedding columns (ARRAY<FLOAT>).
 *
 * Brute-force cosine top-k is the exact baseline (broadcast the query
 * set, never the corpus). The scale path is LSH bucketing (random
 * hyperplanes) — candidates only from matching buckets, then exact
 * re-ranking, the standard recall/throughput trade.
 */
object Similarity {

  /**
   * Dot product of two fixed-dim vector columns as an explicit
   * left-associated sum of element products. For small fixed dims this
   * unrolls into whole-stage codegen (no lambda-function overhead) and
   * its float semantics are reproducible across engines.
   */
  def dotUnrolled(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double"))
      .reduce(_ + _)

  /** Lambda-based dot product for dynamic dims. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column, dim: Int): Column = sqrt(dotUnrolled(a, a, dim))

  def cosine(a: Column, b: Column, dim: Int): Column =
    dotUnrolled(a, b, dim) / (norm(a, dim) * norm(b, dim))

  /**
   * Exact cosine top-k: for each query vector, the k nearest corpus
   * vectors (self excluded). The query side is broadcast — the corpus
   * (the 100 TB side) streams through one stage; ranking is a window
   * over query id.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: String,
                     vec: String, dim: Int, k: Int): DataFrame = {
    // Norms precomputed once per row (not per pair); the per-pair work
    // is a single codegen'd FloatVecDot — keeps the BNLJ stage compiled.
    val q = broadcast(queries.select(col(id).as("query_id"), col(vec).as("qv"),
      normF(col(vec)).as("qn")))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"),
      normF(col(vec)).as("cn"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dotF(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }

  // Deterministic pseudo-random hyperplane component r_{p,i} in
  // {-1, +1}, derived from a fixed splitmix64-style mix of (p, i).
  private def planeSign(p: Int, i: Int): Column = {
    var z = (p.toLong << 32) ^ (i.toLong + 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if ((z & 1L) == 0L) lit(-1.0) else lit(1.0)
  }

  /** Random-hyperplane (sign) LSH signature: nPlanes sign bits packed
    * into a long. Deterministic across runs. Native codegen'd loop
    * ([[graft.functions.FloatVecHyperplaneSig]]); bit-identical to
    * [[hyperplaneSigUnrolled]] (asserted in PipelineSpec). */
  def hyperplaneSig(vec: Column, dim: Int, nPlanes: Int): Column =
    graft.functions.VectorExpressions.hyperplaneSigF(vec, nPlanes)

  /** Unrolled Column formulation of [[hyperplaneSig]] — reference
    * semantics for the native expression; O(nPlanes × dim) Catalyst
    * nodes, so not used on the hot path. */
  def hyperplaneSigUnrolled(vec: Column, dim: Int, nPlanes: Int): Column =
    (0 until nPlanes).map { p =>
      val proj = (1 to dim).map(i =>
        element_at(vec, i).cast("double") * planeSign(p, i)).reduce(_ + _)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /**
   * LSH-bucketed approximate top-k: 16-bit hyperplane signature split
   * into `nBands` bands; vectors sharing any band bucket become
   * candidates; exact cosine re-ranks candidates. Recall < 1 by
   * design; throughput scales with bucket occupancy, not corpus².
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: String,
              vec: String, dim: Int, k: Int,
              nPlanes: Int = 24, nBands: Int = 8): DataFrame = {
    val rows = nPlanes / nBands
    def banded(df: DataFrame, side: String) =
      df.select(col(id).as(s"${side}_id"), col(vec).as(s"${side}_v"),
        normF(col(vec)).as(s"${side}_n"),
        hyperplaneSig(col(vec), dim, nPlanes).as("sig"))
        .select(col(s"${side}_id"), col(s"${side}_v"), col(s"${side}_n"),
          posexplode(array(
            (0 until nBands).map(b =>
              shiftright(col("sig"), b * rows)
                .bitwiseAND(lit((1L << rows) - 1))): _*)))
        .toDF(s"${side}_id", s"${side}_v", s"${side}_n", "band", "bucket")
    val c = banded(corpus, "neighbor")
    val q = banded(queries, "query")
    // Candidate dedup runs over ID PAIRS ONLY — a pair sharing several
    // band buckets must not shuffle its float vectors once per bucket
    // (the old formulation's distinct carried the vectors). Vectors are
    // re-attached after the distinct: the big corpus side via one hash
    // join on neighbor_id, the small query side broadcast.
    val cand = c.select(col("neighbor_id"), col("band"), col("bucket"))
      .join(q.select(col("query_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val cv = corpus.select(col(id).as("neighbor_id"),
      col(vec).as("neighbor_v"), normF(col(vec)).as("neighbor_n"))
    val qv = broadcast(queries.select(col(id).as("query_id"),
      col(vec).as("query_v"), normF(col(vec)).as("query_n")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(cv, Seq("neighbor_id")).join(qv, Seq("query_id"))
      .withColumn("cos", dotF(col("query_v"), col("neighbor_v"))
        / (col("query_n") * col("neighbor_n")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }

  // ---------------------------------------------------------------------
  // IVF (inverted-file) ANN — the centroid-partitioned scale path.
  // ---------------------------------------------------------------------

  /**
   * Deterministic Lloyd k-means over the corpus, cosine assignment.
   * Centroids are driver-side metadata (nList × dim doubles — the same
   * stance MLlib's KMeans takes); every data-sized step is a single
   * broadcast-join + partial/final aggregate over the corpus, so the
   * training sweep is O(iters) scans with no driver materialization of
   * data rows. Seeds = the nList lowest-id vectors (deterministic; at
   * 100 TB seed from a `TABLESAMPLE` instead).
   */
  def trainCentroids(corpus: DataFrame, id: String, vec: String, dim: Int,
                     nList: Int, iters: Int = 2): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    var cents: Array[Array[Double]] =
      corpus.orderBy(col(id)).limit(nList).select(col(vec)).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    for (_ <- 1 to iters) {
      val assigned = assignLists(corpus, id, vec, dim, cents)
      val avgs = (1 to dim).map(i =>
        avg(element_at(col(vec), i).cast("double")).as(s"c$i"))
      val updated = assigned.groupBy(col("list_id"))
        .agg(avgs.head, avgs.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> (1 to dim).map(i => r.getDouble(i)).toArray)
        .toMap
      // empty lists keep their previous centroid
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i))).toArray
    }
    cents
  }

  /** Nearest-centroid (max cosine) list assignment via broadcast —
    * the corpus streams through one stage. */
  private[graft] def assignLists(df: DataFrame, id: String, vec: String, dim: Int,
                                 cents: Array[Array[Double]]): DataFrame =
    df.withColumn("list_id",
      element_at(bestListsArr(col(vec), dim, cents, 1), 1))

  /** The nProbe highest-cosine centroid ids as ONE ARRAY<INT> column —
    * a single codegen'd kernel (functions.FloatVecBestLists) with the
    * centroid matrix as a BROADCAST, not an nList × dim literal tree:
    * the unrolled formulation's analysis/codegen time (not execution)
    * dominated the indexed-ANN probe, and its serialized tree put
    * >1 MiB into every task binary. Scoring contract (left-associated
    * double sums, dot/norm, ties by centroid index, zero-norm/NaN →
    * rank last) matches the driver-side probe in IvfIndex.topKAt. */
  private[graft] def bestListsArr(v: Column, dim: Int,
                                  cents: Array[Array[Double]],
                                  nProbe: Int): Column =
    shims.column(graft.functions.FloatVecBestLists(
      shims.expression(v), centroidBroadcast(cents), nProbe))

  /** Content-keyed key for the broadcast memo below (arrays have
    * reference equality, so the key hashes/compares the VALUES, plus
    * the application id so a stopped context's broadcasts are never
    * served to a successor in the same JVM). */
  private final class CentKey(val app: String, val cents: Array[Array[Double]]) {
    override val hashCode: Int = app.hashCode * 31 +
      java.util.Arrays.deepHashCode(cents.asInstanceOf[Array[AnyRef]])
    override def equals(o: Any): Boolean = o match {
      case k: CentKey => k.app == app && java.util.Arrays.deepEquals(
        k.cents.asInstanceOf[Array[AnyRef]], cents.asInstanceOf[Array[AnyRef]])
      case _ => false
    }
  }
  private val centBcs = new java.util.concurrent.ConcurrentHashMap[CentKey,
    org.apache.spark.broadcast.Broadcast[graft.functions.CentroidMatrix]]()

  /** One broadcast per DISTINCT centroid matrix, not per call: every
    * trainCentroids iteration and every probe/append against a
    * version's frozen centroids reuses the same executor-resident
    * copy instead of shipping a fresh one per plan (a continuous
    * ingest loop otherwise accumulates driver/executor broadcast
    * blocks between GCs) — and equal centroids now yield the SAME
    * broadcast handle, so two FloatVecBestLists over them are
    * case-class-equal and Catalyst's subexpression elimination and
    * exchange reuse can fire again. Bounded by wholesale clear:
    * re-broadcasting is cheap and the ContextCleaner reaps
    * unreferenced blocks. */
  private def centroidBroadcast(cents: Array[Array[Double]])
      : org.apache.spark.broadcast.Broadcast[graft.functions.CentroidMatrix] = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    if (centBcs.size > 64) centBcs.clear()
    centBcs.computeIfAbsent(new CentKey(sc.applicationId, cents),
      _ => sc.broadcast(new graft.functions.CentroidMatrix(cents)))
  }

  /**
   * IVF approximate top-k: corpus vectors are bucketed by nearest
   * centroid; each query probes its nProbe nearest lists and re-ranks
   * candidates exactly. Shuffle profile at scale: one Exchange on
   * list_id for the corpus (reusable across query batches — persist
   * the assigned corpus as the "index"), queries broadcast-joined to
   * their probe lists. Candidate count ~ corpus × nProbe / nList.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String,
              vec: String, dim: Int, k: Int,
              nList: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    val cents = trainCentroids(corpus, id, vec, dim, nList, iters)
    val c = assignLists(corpus, id, vec, dim, cents)
      .select(col(id).as("neighbor_id"), col(vec).as("cv"), col("list_id"))
    val q = queries
      .select(col(id).as("query_id"), col(vec).as("qv"),
        explode(bestListsArr(col(vec), dim, cents, nProbe)).as("list_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        dotF(col("qv"), col("cv")) / (normF(col("qv")) * normF(col("cv"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }

  // ---------------------------------------------------------------------
  // Persistent IVF index — build once, query many. The corpus is laid
  // out as parquet PARTITIONED BY list_id with centroids as driver-side
  // metadata, so a query batch reads ONLY its probed lists' directories
  // (static PartitionFilters — asserted in PlanSpec): at 100 TB with
  // nList=1024, nProbe=8, each batch scans ~0.8% of the corpus.
  // ---------------------------------------------------------------------

  /** Train centroids and materialize the inverted-file layout:
    * `dir/data/list_id=N/…` + `dir/centroids.txt` (dim×nList doubles —
    * plain text, no extra dependencies; centroids ARE driver metadata). */
  def buildIvfIndex(corpus: DataFrame, id: String, vec: String, dim: Int,
                    nList: Int, dir: String, iters: Int = 2): Unit = {
    val cents = trainCentroids(corpus, id, vec, dim, nList, iters)
    assignLists(corpus, id, vec, dim, cents)
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$dir/data")
    val txt = cents.map(_.mkString(",")).mkString("\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir).resolve("centroids.txt"), txt)
  }

  private def loadCentroids(dir: String): Array[Array[Double]] =
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir).resolve("centroids.txt"))
      .split("\n").map(_.split(",").map(_.toDouble))

  /**
   * ANN top-k against a prebuilt index: the query batch's probe lists
   * are computed driver-side (queries are small by contract — every
   * formulation broadcasts them), and the corpus scan carries a static
   * `list_id IN (…)` partition filter, so only probed directories are
   * listed and read. Everything after the scan is the same candidate
   * re-rank as [[ivfTopK]].
   */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       queries: DataFrame, id: String, vec: String, dim: Int,
                       k: Int, nProbe: Int = 4): DataFrame = {
    val cents = loadCentroids(dir)
    val q = queries
      .select(col(id).as("query_id"), col(vec).as("qv"),
        explode(bestListsArr(col(vec), dim, cents, nProbe)).as("list_id"))
    val probedLists = q.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    val c = ParquetFooters.read(spark, s"$dir/data")
      .filter(col("list_id").isin(probedLists: _*))
      .select(col(id).as("neighbor_id"), col(vec).as("cv"), col("list_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        dotF(col("qv"), col("cv")) / (normF(col("qv")) * normF(col("cv"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }

  /**
   * Embedding near-duplicate pairs: all (a,b) with a < b and
   * cosine >= minCos. EXACT — recall 1 by construction.
   *
   * Scale design: balanced block-pair partitioning, NOT a nested-loop
   * join. Vectors hash into `blocks` blocks; each unordered block pair
   * (i,j) is one equi-join key. A vector in block g joins as the
   * low-block side for keys (g, g..G-1) and as the high-block side for
   * keys (0..g, g), so every cross-block pair meets exactly once and
   * within-block pairs are halved by the id filter. The plan is a plain
   * shuffled equi-join on (bi, bj): G(G+1)/2 evenly-sized tasks of
   * (n/G)² comparisons, (G+1)× shuffle replication of the vectors, no
   * BNLJ/CartesianProduct, no broadcast of the corpus, no driver
   * materialization (asserted in PlanSpec).
   *
   * Why not LSH candidates here: an exact threshold join must catch
   * EVERY qualifying pair, and at moderate thresholds hyperplane LSH
   * cannot prune without losing recall — on this corpus the qualifying
   * pairs sit at cos 0.40-0.51 with a dense background just below
   * (single-plane agreement 0.631 vs 0.617 at cos 0.35): any banding
   * certain to keep cos≥0.4 pairs admits essentially all pairs as
   * candidates, i.e. the n² work is information-theoretically
   * irreducible for exact output. The block-pair join makes that work
   * distributed, balanced, and memory-bounded. When near-dups are
   * separated (cos ≥ ~0.7 targets, random background), use
   * [[cosineDupPairsLSH]] — same output contract, sub-n² candidates.
   */
  def cosineDupPairs(df: DataFrame, id: String, vec: String, dim: Int,
                     minCos: Double, blocks: Int = 16): DataFrame = {
    val G = blocks
    val base = df.select(col(id), col(vec), normF(col(vec)).as("nrm"),
      pmod(xxhash64(col(id)), lit(G.toLong)).cast("int").as("g"))
    val a = base.select(col("g").as("bi"),
      explode(sequence(col("g"), lit(G - 1))).as("bj"),
      col(id).as("ia"), col(vec).as("va"), col("nrm").as("na"))
    val b = base.select(explode(sequence(lit(0), col("g"))).as("bi"),
      col("g").as("bj"),
      col(id).as("ib"), col(vec).as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("bi", "bj"))
      .filter(col("bi") =!= col("bj") || col("ia") < col("ib"))
      .withColumn("cos", dotF(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= minCos)
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col("cos"))
  }

  /**
   * Symmetric int8 quantization of an embedding column — the 100 TB
   * storage play: 4× smaller than float32, dot products stay within
   * ~1% cosine error at 64 dims (property-tested). Per-vector scale =
   * maxAbs/127; q_i = floor(x_i/scale + 0.5) ∈ [-127, 127].
   * `floor(+0.5)` rather than `round` deliberately: IEEE floor is
   * bit-identical across engines while round's half-way rule is not —
   * which is what lets emb_quantize carry an exact DuckDB oracle.
   * Returns struct(q ARRAY<INT>, scale DOUBLE).
   */
  def int8Quantize(vec: Column): Column = {
    val maxAbs = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = when(maxAbs > 0, maxAbs / 127.0).otherwise(lit(1.0))
    struct(
      transform(vec, x =>
        floor(x.cast("double") / scale + 0.5).cast("int")).as("q"),
      scale.as("scale"))
  }

  /** Inverse of [[int8Quantize]]: approximate float reconstruction. */
  def int8Dequantize(q: Column, scale: Column): Column =
    transform(q, x => (x.cast("double") * scale).cast("float"))

  /**
   * kNN classification over the embedding space — majority label among
   * the k exact-cosine nearest neighbors (tie → smaller label id): the
   * pseudo-labeling / weak-supervision step (label new docs from a
   * labeled seed set before training a real classifier). Deterministic
   * end to end — the neighbor sets are the oracled [[bruteForceTopK]]
   * ranking, votes are integers — so the PREDICTIONS carry a full
   * oracle. Swap the first stage for [[ivfTopK]]/PQ for the
   * approximate scale path; the vote logic is stage-agnostic.
   *
   * Scale shape: top-k emits queries×k rows (tiny); the label join
   * broadcasts that against the corpus, votes aggregate ≤ k rows per
   * query. Cost is entirely the neighbor stage.
   */
  def knnClassify(corpus: DataFrame, queries: DataFrame, id: String,
                  vec: String, label: String, dim: Int,
                  k: Int = 10): DataFrame = {
    val topk = bruteForceTopK(corpus, queries, id, vec, dim, k)
    val votes = topk
      .join(corpus.select(col(id).as("neighbor_id"), col(label)),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col(label))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col(label))
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col(label).as("pred_label"), col("votes"))
  }

  /**
   * Cosine of every vector to its group's centroid — embedding-space
   * OUTLIER SCORING (prune far-from-centroid docs per source/label,
   * the curation step behind CLIP-score-style filtering). Exact and
   * fully oracle-able because every input to the final float ops is an
   * integer: vectors are int8-quantized, the centroid is the per-dim
   * INTEGER mean (floor of an IEEE double division — a definition both
   * engines execute bit-identically), and dot/norms are then small
   * exact integers. Bounds hold at ANY corpus size: centroid codes
   * stay in [-128, 127] after the mean, so dot ≤ 64·127·128 — no
   * overflow for the 100 TB case where raw per-dim SUMS would blow
   * past int64 squared.
   *
   * Plan shape: ONE partial/final aggregate (dim sum columns + count
   * per label — no explode, no per-dim shuffle rows), broadcast of the
   * tiny centroid table back, then a per-row map. Scan-speed at scale.
   *
   * Output: (id, label, cos_centroid DOUBLE); degenerate zero-norm
   * rows/centroids score 0.0.
   */
  def centroidCos(df: DataFrame, id: String, vec: String, label: String,
                  dim: Int): DataFrame = {
    val q = df.select(col(id), col(label),
      int8Quantize(col(vec)).getField("q").as("qv"))
    val sums = (1 to dim).map(i =>
      sum(element_at(col("qv"), i).cast("long")).as(s"s$i")) :+
      count(lit(1)).as("n")
    val cent = q.groupBy(col(label)).agg(sums.head, sums.tail: _*)
      .select(col(label), array((1 to dim).map(i =>
        floor(col(s"s$i").cast("double") / col("n")).cast("long")): _*).as("cl"))
    val dotQC = aggregate(zip_with(col("qv"), col("cl"),
      (a, b) => a.cast("long") * b), lit(0L), (acc, v) => acc + v)
    val qq = aggregate(transform(col("qv"),
      x => x.cast("long") * x.cast("long")), lit(0L), (acc, v) => acc + v)
    val cc = aggregate(transform(col("cl"), x => x * x), lit(0L),
      (acc, v) => acc + v)
    q.join(broadcast(cent), Seq(label))
      .select(col(id), col(label),
        when(qq > 0 && cc > 0,
          dotQC.cast("double") /
            (sqrt(qq.cast("double")) * sqrt(cc.cast("double"))))
          .otherwise(lit(0.0)).as("cos_centroid"))
  }

  /** ±1 projection-matrix entry, derived from the cross-engine md5
    * bucket (same contract as `Sampling.hashBucket`: first 8 hex chars
    * of md5("i_j"), parsed, low bit). Pure function of (i, j) — both
    * engines regenerate the matrix from nothing. */
  private[graft] def projSign(i: Int, j: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${i}_$j".getBytes("UTF-8"))
    val hex = d.take(4).map(b => f"$b%02x").mkString // first 8 hex chars
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
  }

  /**
   * Sparse random projection (Achlioptas-style ±1 matrix) over the
   * int8-QUANTIZED embedding — dimensionality reduction for the
   * downstream LSH/clustering stages, in pure integer arithmetic so
   * the projected vectors are cross-engine EXACT (a float projection
   * could only ever be rows-only: summation order moves ulps).
   * proj_j = Σ_i q_i · s(i,j), with q = [[int8Quantize]] codes and
   * s the md5-derived ±1 matrix ([[projSign]]) — the JL guarantee
   * needs only ±1 sub-Gaussian entries (Achlioptas '03), no floats.
   *
   * Scale shape: a pure per-row map — zero shuffle, zero state; the
   * sign matrix enters the plan as dOut literal arrays of size dim
   * (~1k ints total), each output dim one zip_with + aggregate HOF.
   * At 100 TB this runs scan-speed and cuts every downstream
   * vector-shuffle byte count by dim/dOut.
   *
   * Output columns: id, p00..p{dOut-1} (flat — oracle-friendly).
   */
  def randomProject(df: DataFrame, id: String, vec: String,
                    dim: Int, dOut: Int = 16): DataFrame = {
    val q = int8Quantize(col(vec)).getField("q")
    val projCols = (0 until dOut).map { j =>
      val signs = array((0 until dim).map(i => lit(projSign(i, j))): _*)
      aggregate(zip_with(q, signs, (x, s) => x * s), lit(0L),
        (acc, v) => acc + v.cast("long")).as(f"p$j%02d")
    }
    df.select((col(id) +: projCols): _*)
  }

  /**
   * Quantized-LSH approximate top-k whose ENTIRE candidate rule is
   * cross-engine exact — the fully-SQL-replayable sibling of
   * [[lshTopK]]. Signature bits are the signs of the integer random
   * projection ([[randomProject]]: int8-quantized codes × the
   * md5-derived ±1 matrix, pure 64-bit integer arithmetic), packed
   * into `nBands` band values of `dOut / nBands` bits; vectors
   * sharing any band value become candidates, and exact float cosine
   * over the ORIGINAL embeddings re-ranks — the same fixed expression
   * tree as [[bruteForceTopK]], whose correctly-rounded IEEE ops on
   * identical inputs make even the emitted cosines cross-engine
   * exact. Where [[lshTopK]]'s float hyperplanes leave it rows-only
   * (recall spec-asserted, planes not SQL-replicable), every stage
   * here — quantization, projections, sign/band values, candidate
   * set, final ranking — replays verbatim in the DuckDB oracle.
   *
   * Scale shape: signatures are a pure per-row map (zero shuffle);
   * the candidate generator is a (band, value) equi-join whose fan-in
   * is bucket occupancy, never corpus²; candidate dedup runs over id
   * pairs only (vectors re-attach after — corpus side one hash join,
   * query side broadcast); the re-rank touches candidate rows only.
   */
  def lshTopKQuantized(corpus: DataFrame, queries: DataFrame,
                       id: String, vec: String, dim: Int, k: Int,
                       dOut: Int = 16, nBands: Int = 4): DataFrame = {
    require(dOut % nBands == 0, s"nBands $nBands must divide dOut $dOut")
    val rowsPer = dOut / nBands
    def banded(df: DataFrame, side: String) = {
      val bands = (0 until nBands).map { b =>
        (0 until rowsPer).map { r =>
          when(col(f"p${b * rowsPer + r}%02d") >= 0, lit(1L << r))
            .otherwise(lit(0L))
        }.reduce(_ + _)
      }
      randomProject(df, id, vec, dim, dOut)
        .select(col(id).as(s"${side}_id"), posexplode(array(bands: _*)))
        .toDF(s"${side}_id", "band", "bucket")
    }
    val cand = banded(corpus, "neighbor")
      .join(banded(queries, "query"), Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val cv = corpus.select(col(id).as("neighbor_id"),
      col(vec).as("neighbor_v"), normF(col(vec)).as("neighbor_n"))
    val qv = broadcast(queries.select(col(id).as("query_id"),
      col(vec).as("query_v"), normF(col(vec)).as("query_n")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(cv, Seq("neighbor_id")).join(qv, Seq("query_id"))
      .withColumn("cos", dotF(col("query_v"), col("neighbor_v"))
        / (col("query_n") * col("neighbor_n")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }

  /**
   * Banded-LSH near-duplicate pairs — the sub-quadratic scale path for
   * SEPARATED thresholds (near-dups at cos ≥ ~0.7 over a random
   * background): hyperplane band buckets generate candidates, exact
   * cosine verifies them, so the output contains no false positives
   * and misses a qualifying pair only if it disagrees in all bands
   * (P ≈ (1-p^r)^B, p = 1-θ/π; defaults give < 1e-18 at cos 0.9).
   * Candidate dedup is over id pairs only; vectors re-attach after.
   * Same output contract as [[cosineDupPairs]].
   */
  /**
   * Semantic deduplication — the SemDeDup shape (Abbas et al. 2023,
   * arXiv:2303.09540): cluster the embedding space, then within each
   * cluster drop every vector that has a LOWER-id neighbor at cosine
   * >= `tau`, keeping the min-id representative of each
   * within-cluster near-duplicate neighborhood. (Witness rule — `x`
   * is dropped iff SOME `y < x` in its cluster has cos(x,y) >= tau;
   * the transitive-closure variant over an explicit pair set is
   * [[Dedup.connectedComponents]]'s job.) Returns every corpus row as
   * `(id, list_id, keep)`.
   *
   * Scale shape: clustering is what makes semantic dedup tractable at
   * 100 TB — k clusters cut the n² pair space to ~n²/k of
   * within-cluster work — and inside each cluster the pair join is
   * the same balanced block-pair equi-join as [[cosineDupPairs]],
   * keyed on (list_id, bi, bj): no BNLJ, no corpus broadcast, fat
   * clusters split over G(G+1)/2 evenly-sized tasks.
   *
   * `iters = 0` keeps the centroids at their deterministic lowest-id
   * seeds (assignment = argmax dot/|c|, ties by centroid index) —
   * the exactly-SQL-replayable configuration `q_semdedup` is oracled
   * with; Lloyd iterations sharpen the clusters when exact replay
   * isn't required.
   */
  def semDedup(df: DataFrame, id: String, vec: String, dim: Int,
               nClusters: Int, iters: Int, tau: Double,
               blocks: Int = 8): DataFrame = {
    val cents = trainCentroids(df, id, vec, dim, nClusters, iters)
    val assigned = assignLists(df.select(col(id), col(vec)), id, vec, dim, cents)
    val G = blocks
    val base = assigned.select(col(id), col(vec), col("list_id"),
      normF(col(vec)).as("nrm"),
      pmod(xxhash64(col(id)), lit(G.toLong)).cast("int").as("g"))
    val a = base.select(col("list_id"), col("g").as("bi"),
      explode(sequence(col("g"), lit(G - 1))).as("bj"),
      col(id).as("ia"), col(vec).as("va"), col("nrm").as("na"))
    val b = base.select(col("list_id"),
      explode(sequence(lit(0), col("g"))).as("bi"), col("g").as("bj"),
      col(id).as("ib"), col(vec).as("vb"), col("nrm").as("nb"))
    val dropped = a.join(b, Seq("list_id", "bi", "bj"))
      .filter(col("bi") =!= col("bj") || col("ia") < col("ib"))
      .withColumn("cos", dotF(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= tau)
      .select(greatest(col("ia"), col("ib")).as(id))
      .distinct()
    assigned.select(col(id), col("list_id"))
      .join(dropped.withColumn("hit", lit(true)), Seq(id), "left")
      .select(col(id), col("list_id"), col("hit").isNull.as("keep"))
  }

  def cosineDupPairsLSH(df: DataFrame, id: String, vec: String, dim: Int,
                        minCos: Double, nPlanes: Int = 64,
                        nBands: Int = 32): DataFrame = {
    val rows = nPlanes / nBands
    val base = df.select(col(id), col(vec), normF(col(vec)).as("nrm"),
      hyperplaneSig(col(vec), dim, nPlanes).as("sig"))
    val banded = base.select(col(id), posexplode(array(
      (0 until nBands).map(bd =>
        shiftright(col("sig"), bd * rows)
          .bitwiseAND(lit((1L << rows) - 1))): _*)))
      .toDF(id, "band", "bucket")
    val cand = banded.select(col(id).as("a"), col("band"), col("bucket"))
      .join(banded.select(col(id).as("b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val va = base.select(col(id).as("a"), col(vec).as("va"), col("nrm").as("na"))
    val vb = base.select(col(id).as("b"), col(vec).as("vb"), col("nrm").as("nb"))
    cand.join(va, Seq("a")).join(vb, Seq("b"))
      .withColumn("cos", dotF(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= minCos)
      .select(col("a"), col("b"), col("cos"))
  }
}
