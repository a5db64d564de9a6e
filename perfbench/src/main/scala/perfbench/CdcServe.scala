package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.Tables
import graft.functions.VectorExpressions.{dotF, normF}
import graft.operators.{DigestIndex, Ivm, IvfIndex, MinhashIndex, Retrieval, TermIndex, Terms}
import graft.streaming.Streams

/** Closed loop, one client, over the persisted families. Setup builds the
  * four index families on about 90% of the documents and embeddings, and
  * a group-by view (an `Ivm`, itself two MergeTables) maintained by
  * `Streams.cdcViewStream`. Each cycle makes one seeded CDC batch in the
  * delta mix of the repository's `IncrementalRefresh` example (removed,
  * revised and byte-copied documents) and sends it
  *  - through the four index families, each followed by the per-batch gc
  *    of the repository's streaming CDC wrappers (one `ingest` op),
  *  - as a parquet file into the stream's watched directory, timed until
  *    the stream has completed that micro-batch (one `stream` op),
  * then serves one hybrid probe batch shaped like the `RagRetrieval`
  * example's (one `probe` op). Segments, tombstones and tier compactions
  * accumulate within one run. The live corpus is tracked here, so the dup
  * pairs of every ingest, a sampled probe batch and the view are checked
  * exactly. */
final class CdcServe(ctx: Ctx) extends Workload {
  import ctx._
  import CdcServe._

  private val docs = Tables.load(spark, data, "documents")
  private val embs = Tables.load(spark, data, "embeddings")
    .select(col("vec_id").as("doc_id"), col("embedding"))
  private val textSchema = docs.select("doc_id", "text").schema
  private val embSchema = embs.schema
  private val rowSchema = docs.select(col("doc_id"), col("lang"), col("source"),
    length(col("text")).cast("long").as("n_chars")).schema
  private val keySchema = StructType(textSchema.fields.take(1))
  private val base: Map[Long, Doc] = {
    val vecs = embs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    docs.select("doc_id", "text", "lang", "source").collect().map(r =>
      r.getLong(0) -> Doc(r.getString(1), vecs(r.getLong(0)), r.getString(2), r.getString(3))).toMap
  }

  // state of the current setup
  private var dir = ""
  private var live = mutable.LinkedHashMap.empty[Long, Doc]
  // base documents never revised or deleted: each is the one row the
  // digest index holds for its text, so a copy of it must pair
  private val pristine = mutable.Set.empty[Long]
  private var rnd = rng(0)
  private var nextId = 0L
  private var batchNo = 0L
  private var query: StreamingQuery = _
  // the last timed probe batch: its text and vector probes, and what it served
  private var lastProbe: (Seq[Row], Seq[Row], Array[Row]) = _
  private val refreshed = ConcurrentHashMap.newKeySet[Long]()
  private val completed = ConcurrentHashMap.newKeySet[Long]()

  // completed micro-batches, with their duration
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.get("triggerExecution")
      if (p.numInputRows > 0 && d != null) {
        rec.sample("stream_batch_start_ms", java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
        rec.sample("stream_batch_ms", d.doubleValue)
        completed.add(p.batchId)
      }
    }
  }

  private def fam(f: String) = s"$dir/$f"

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def noisy(v: Array[Float], scale: Double): Array[Float] =
    v.map(x => (x + rnd.nextGaussian() * scale).toFloat)

  private def pickLive(): Long = live.keysIterator.drop(rnd.nextInt(live.size)).next()

  /** One CDC batch. Of the live documents, 1/17 are removed, 1/13 revised
    * under their own id (" revised" appended, embedding negated) and 1/19
    * copied byte for byte under a fresh id, the shares and revisions of
    * `IncrementalRefresh`. Copies are taken from pristine documents. */
  private def cdcBatch(): Batch = {
    val n = live.size
    val order = rnd.shuffle(live.keys.toVector)
    val (removed, rest) = order.splitAt(n / 17)
    val revised = rest.take(n / 13).map { i =>
      val d = live(i)
      i -> d.copy(text = d.text + " revised", vec = d.vec.map(-_))
    }
    val copies = rest.drop(n / 13).filter(pristine).take(n / 19).map { i =>
      nextId += 1
      nextId -> live(i)
    }
    Batch(revised ++ copies, removed, copies.map(_._1).toSet)
  }

  /** The stream's input for one batch: inserted rows and the removed and
    * revised rows' before-images, written outside any timed region. */
  private def stageFile(b: Batch): java.nio.file.Path = {
    val rows = b.ups.map { case (i, d) => Row.fromSeq(d.row(i).toSeq :+ "insert") } ++
      (b.removed ++ b.ups.map(_._1).filter(live.contains))
        .map(i => Row.fromSeq(live(i).row(i).toSeq :+ "delete"))
    val out = s"$dir/staging/$batchNo"
    frame(rows, rowSchema.add("op", StringType)).coalesce(1).write.parquet(out)
    Files.list(Paths.get(out)).iterator().asScala.find(_.toString.endsWith(".parquet")).get
  }

  /** Every copy in the batch is paired by both dedup families; the pair
    * frames are released either way. */
  private def pairsCover(copies: Set[Long])(pairs: (DataFrame, DataFrame)): Boolean =
    try {
      val digest = pairs._1.collect().map(_.getLong(0)).toSet
      val minhash = pairs._2.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
      copies.subsetOf(digest) && copies.subsetOf(minhash)
    } finally {
      pairs._1.unpersist()
      pairs._2.unpersist()
    }

  private def cycle(timed: Boolean): Unit = {
    val b = cdcBatch()
    val upText = frame(b.ups.map { case (i, d) => Row(i, d.text) }, textSchema)
    val upEmb = frame(b.ups.map { case (i, d) => Row(i, d.vec.toSeq) }, embSchema)
    val delIds = frame(b.removed.map(Row(_)), keySchema)
    // the near-dup family tombstones every touched id before the ingest,
    // as Streams.cdcNearDupStream does
    val deadIds = frame((b.removed ++ b.ups.map(_._1)).map(Row(_)), keySchema)
    val staged = stageFile(b)
    val expectBatch = batchNo
    batchNo += 1

    def ingest(): (DataFrame, DataFrame) = {
      val digest = rec.span("ingest.digest") {
        val p = DigestIndex.applyCdc(spark, fam("digest"), upText, delIds, "doc_id", "text")
        DigestIndex.gc(spark, fam("digest"), Retain)
        p
      }
      val minhash = rec.span("ingest.minhash") {
        MinhashIndex.deleteFromIndex(spark, fam("minhash"), deadIds, "doc_id")
        val p = MinhashIndex.ingest(spark, fam("minhash"), upText, "doc_id", "text")
        MinhashIndex.gc(spark, fam("minhash"), MinhashRetain)
        p
      }
      rec.span("ingest.term") {
        TermIndex.applyCdc(spark, fam("term"), upText, delIds, "doc_id", "text", TermCfg)
        TermIndex.gc(spark, fam("term"), Retain)
      }
      rec.span("ingest.ivf") {
        IvfIndex.applyCdc(spark, fam("ivf"), upEmb, delIds, "doc_id", "embedding", IvfCfg)
        IvfIndex.gc(spark, fam("ivf"), Retain)
      }
      (digest, minhash)
    }

    def stream(): Boolean = {
      Files.move(staged, Paths.get(f"$dir/in/$expectBatch%05d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      // the op ends when the micro-batch has completed: the refresh, the
      // view's gc and the stream's offset and commit logs
      rec.span("stream") {
        val until = Clock.nowMs + TimeoutMs
        while (!completed.contains(expectBatch) && Clock.nowMs < until &&
          query.exception.isEmpty) Thread.sleep(1)
      }
      completed.contains(expectBatch) && refreshed.contains(expectBatch)
    }

    if (timed) {
      rec.op("ingest")(ingest())(pairsCover(b.copies))
      rec.op("stream")(stream())(identity)
      applyBatch(b)
      val (text, vecs) = probeBatch()
      // every probe answered, with both legs fused
      val served = rec.op("probe")(serve(text, vecs))(rows =>
        rows.map(_.getAs[Long]("probe_id")).toSet == text.map(_.getLong(0)).toSet &&
          Retrieval.lastGateDecision.isEmpty)
      lastProbe = (text, vecs, served)
    } else {
      // Warm-up only: the three ops write and read different state (a
      // probe reads a committed version, which the ingest's gc retains),
      // so they run side by side to shorten setup.
      val (text, vecs) = probeBatch()
      Parallel[Any](() => { val (d, m) = ingest(); d.unpersist(); m.unpersist() },
        () => stream(), () => serve(text, vecs))
      applyBatch(b)
    }
  }

  private def applyBatch(b: Batch): Unit = {
    b.removed.foreach(live.remove)
    live ++= b.ups
    pristine --= b.removed
    pristine --= b.ups.map(_._1)
  }

  /** A seeded batch of short text queries (windows of live documents)
    * and perturbed query vectors; probe ids never collide with doc ids.
    * The batch size is `RagRetrieval`'s. */
  private def probeBatch(): (Seq[Row], Seq[Row]) = {
    val ids = (0 until ProbesPerBatch).map(ProbeIdBase + _)
    val text = ids.map { i =>
      val toks = live(pickLive()).text.split("\\s+")
      val n = 3 + rnd.nextInt(3)
      val s = rnd.nextInt(math.max(1, toks.length - n))
      Row(i, toks.slice(s, s + n).mkString(" "))
    }
    (text, ids.map(i => Row(i, noisy(live(pickLive()).vec, 0.05).toSeq)))
  }

  /** One hybrid probe with `RagRetrieval`'s `kInner`, `k` and `nProbe`. */
  private def serve(text: Seq[Row], vecs: Seq[Row]): Array[Row] = rec.span("probe") {
    Retrieval.hybridRrfIndexed(spark, fam("term"), fam("ivf"), frame(text, textSchema),
      frame(vecs, embSchema), "doc_id", "text", "embedding", kInner = KInner, k = K,
      termCfg = TermCfg, nProbe = NProbe).collect()
  }

  def setup(): Unit = {
    dir = s"$work/state"
    rnd = rng(7)
    nextId = NewIdBase
    batchNo = 0
    refreshed.clear()
    completed.clear()
    val held = base.keySet.filter(i => rng(i).nextInt(10) == 0)
    live = mutable.LinkedHashMap.from(base.toSeq.sortBy(_._1).filterNot(d => held(d._1)))
    pristine.clear()
    pristine ++= live.keys
    val keep = !col("doc_id").isin(held.toSeq: _*)
    val text = docs.filter(keep).select("doc_id", "text")
    val rows = frame(live.toSeq.map { case (i, d) => d.row(i) }, rowSchema)
    // the five structures are independent: build them side by side
    rec.span("build")(Parallel(
      () => DigestIndex.build(spark, text, "doc_id", "text", fam("digest")).unpersist(),
      () => MinhashIndex.build(spark, text, "doc_id", "text", fam("minhash")),
      () => TermIndex.build(spark, text, "doc_id", "text", fam("term"), TermCfg),
      () => IvfIndex.build(spark, embs.filter(keep), "doc_id", "embedding", fam("ivf"), IvfCfg),
      () => {
        Ivm.create(spark, fam("view"), rowSchema, ViewSpec, nBuckets = 8)
        Ivm.applyDelta(spark, fam("view"), rows, rows.limit(0))
      }))
    Files.createDirectories(Paths.get(fam("in")))
    spark.streams.addListener(listener)
    val events = spark.readStream.schema(rowSchema.add("op", StringType))
      .option("maxFilesPerTrigger", 1).parquet(fam("in"))
    query = Streams.cdcViewStream(events, "op", fam("view"), fam("checkpoint"), Retain) {
      (touched, batchId) =>
        touched.collect()
        refreshed.add(batchId)
    }
    cycle(timed = false)
  }

  def run(deadlineMs: Double): Unit = {
    rnd = rng(11)
    do rec.cycle(cycle(timed = true)) while (Clock.nowMs < deadlineMs)
  }

  private def longs(df: DataFrame, cols: String*): Set[Seq[Long]] =
    df.select(cols.map(col(_).cast("long")): _*).collect()
      .map(r => Seq.tabulate(cols.size)(r.getLong)).toSet

  /** Reciprocal-rank fusion as `Retrieval.hybridRrf` documents it, from
    * two legs' (probe, doc, rank) rows: per probe, rrf sums
    * `RrfScale / (RrfK + rank)` over the legs that hold the doc, and the
    * top [[K]] by rrf, then doc id, are ranked from 1. Gives
    * (probe, rank, doc, rrf). */
  private def rrf(legs: Set[Seq[Long]]*): Set[Seq[Long]] =
    legs.flatten.groupMapReduce(r => (r(0), r(1)))(r => RrfScale / (RrfK + r(2)))(_ + _)
      .groupBy(_._1._1).values.flatMap { docs =>
        docs.toSeq.sortBy { case ((_, d), score) => (-score, d) }.take(K).zipWithIndex
          .map { case (((probe, d), score), i) => Seq(probe, i + 1L, d, score) }
      }.toSet

  def finish(): Unit = {
    query.stop()
    spark.streams.removeListener(listener)
    val liveText = frame(live.toSeq.map { case (i, d) => Row(i, d.text) }, textSchema)
    val liveEmb = frame(live.toSeq.map { case (i, d) => Row(i, d.vec.toSeq) }, embSchema)
    val liveRows = frame(live.toSeq.map { case (i, d) => d.row(i) }, rowSchema)
    // The last probe batch was served from the indexes as they are now.
    // Each index, probing every list, must equal the inline operator over
    // the live corpus, and what was served must be the reciprocal-rank
    // fusion of the two legs at the probe's own settings.
    val (t, v, served) = lastProbe
    val p = frame(t, textSchema)
    val q = frame(v, embSchema)
    val lists = IvfIndex.health(spark, fam("ivf")).lists
    val Seq(bm, dn, term, ivf, ivfServed) = Parallel(
      () => longs(Terms.bm25TopK(liveText, p, "doc_id", "text", KInner),
        "probe_id", "doc_id", "rank"),
      () => longs(q.select(col("doc_id").as("query_id"), col("embedding").as("qv"))
        .crossJoin(liveEmb.select(col("doc_id").as("neighbor_id"), col("embedding").as("cv")))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", dotF(col("qv"), col("cv")) / (normF(col("qv")) * normF(col("cv"))))
        .withColumn("rnk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))))
        .filter(col("rnk") <= KInner), "query_id", "neighbor_id", "rnk"),
      () => longs(TermIndex.topK(spark, fam("term"), p, "doc_id", "text", KInner, TermCfg),
        "probe_id", "doc_id", "rank"),
      () => longs(IvfIndex.topK(spark, fam("ivf"), q, "doc_id", "embedding", KInner,
        nProbe = lists), "query_id", "neighbor_id", "rnk"),
      () => longs(IvfIndex.topK(spark, fam("ivf"), q, "doc_id", "embedding", KInner,
        nProbe = NProbe), "query_id", "neighbor_id", "rnk"))
    val fused = served.map(r => Seq("probe_id", "rank", "doc_id", "rrf").map(r.getAs[Long])).toSet
    val probeOk = term == bm && ivf == dn && fused == rrf(term, ivfServed)
    def canon(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    val viewOk = canon(Ivm.readView(spark, fam("view"))) == canon(viewOf(liveRows))
    rec.values("checked_probes") = 1
    rec.values("failed_probe_checks") = if (probeOk) 0 else 1
    rec.values("failed_view_checks") = if (viewOk) 0 else 1
    rec.values("live_rows") = live.size
    if (rec.traced) space(liveText.join(liveEmb, "doc_id"))
  }

  /** Disk use of the four index dirs, against the live corpus written
    * once as plain parquet. */
  private def space(liveCorpus: DataFrame): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def size(p: String) = fs.getContentSummary(new Path(p))
    var total = 0L
    for (f <- Families) {
      val s = size(fam(f))
      rec.values(s"index.$f.disk_mb") = s.getLength / 1048576.0
      rec.values("index.files") = rec.values.getOrElse("index.files", 0.0) + s.getFileCount
      rec.values("index.versions_on_disk") = rec.values.getOrElse("index.versions_on_disk", 0.0) +
        fs.listStatus(new Path(fam(f))).count(_.getPath.getName.matches("v\\d+"))
      total += s.getLength
    }
    liveCorpus.coalesce(1).write.parquet(s"$work/live_corpus")
    rec.values("index.space_amp") = total.toDouble / size(s"$work/live_corpus").getLength
  }
}

object CdcServe {
  final case class Doc(text: String, vec: Array[Float], lang: String, source: String) {
    /** The document's row in the view's input. */
    def row(id: Long): Row = Row(id, lang, source, text.length.toLong)
  }

  /** The CDC batch: upserts (revisions and fresh copies), removed ids,
    * and the ids of the copies. */
  final case class Batch(ups: Seq[(Long, Doc)], removed: Seq[Long], copies: Set[Long])

  val Dim = 64
  // the streaming CDC wrappers' default retention per family
  val Retain = 2
  val MinhashRetain = 3
  // RagRetrieval's probe: a batch of ten, fused top 3 of two top-10 legs,
  // the API's default of four probed lists
  val ProbesPerBatch = 10
  val KInner = 10
  val K = 3
  val NProbe = 4
  // hybridRrfIndexed's defaults
  val RrfK = 60L
  val RrfScale = 1000000L
  val NewIdBase = 1000000L
  val ProbeIdBase = 9000000L
  val TimeoutMs = 60000.0
  val Families = Seq("digest", "minhash", "term", "ivf")
  val TermCfg = TermIndex.Config(buckets = 8)
  val IvfCfg = IvfIndex.Config(dim = Dim, nList = 8, iters = 2)

  /** The stream-maintained group-by view over documents. */
  val ViewSpec: Ivm.Spec = Ivm.Spec(groupCols = Seq("lang"), aggs = Seq(
    Ivm.Count("cnt"), Ivm.Sum("n_chars", "sum_chars"), Ivm.Min("doc_id", "min_id"),
    Ivm.Max("n_chars", "max_chars"), Ivm.Avg("n_chars", "avg_chars"),
    Ivm.CountDistinct("source", "n_sources")))

  /** [[ViewSpec]] computed from scratch. */
  def viewOf(rows: DataFrame): DataFrame = rows.groupBy("lang").agg(count(lit(1)).as("cnt"),
    sum("n_chars").as("sum_chars"), min("doc_id").as("min_id"),
    max("n_chars").as("max_chars"), avg("n_chars").as("avg_chars"),
    countDistinct("source").as("n_sources"))
}
