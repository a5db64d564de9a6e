package graft

import graft.functions.{TextFunctions => TF}
import graft.operators.{DigestIndex, Ivm, IvfIndex, IvmOverJoin, JoinIvm, MinhashIndex, Retrieval,
  TermIndex}
import graft.streaming.Streams
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Spark-job budgets per public call, counted by a listener and pinned
 * as upper bounds: the job count of a call is the same on every run,
 * so a change that adds jobs fails here before it shows as wall time.
 * A change that must raise a bound says so in CHANGES.md.
 */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  /** Spark jobs `f` starts on this thread (its job group). */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"budget-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
          _.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try f
    finally {
      sc.clearJobGroup()
      org.apache.spark.graft.ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  test("hybridRrfIndexed probe on a warm sf0.001 index: <= 10 jobs " +
    "(snapshot path); the scan path's legs pinned beside it") {
    import spark.implicits._
    val tDir = java.nio.file.Files.createTempDirectory("budget_term")
      .toString + "/idx"
    val iDir = java.nio.file.Files.createTempDirectory("budget_ivf")
      .toString + "/idx"
    val tCfg = TermIndex.Config(buckets = 8)
    val iCfg = IvfIndex.Config(dim = 64, nList = 8, iters = 2)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // the serving shape of the cdc benchmark: a built index plus one
    // CDC commit (upserts and deletes) and gc
    TermIndex.build(spark, docs.filter(col("doc_id") < 450), "doc_id", "text",
      tDir, tCfg)
    IvfIndex.build(spark, emb.filter(col("doc_id") < 450), "doc_id",
      "embedding", iDir, iCfg)
    val ups = col("doc_id") >= 450 || col("doc_id") % 19 === 0
    val dels = docs.filter(col("doc_id") % 17 === 1).select("doc_id")
    TermIndex.applyCdc(spark, tDir, docs.filter(ups), dels, "doc_id", "text",
      tCfg)
    TermIndex.gc(spark, tDir, 2)
    IvfIndex.applyCdc(spark, iDir, emb.filter(ups), dels, "doc_id",
      "embedding", iCfg)
    IvfIndex.gc(spark, iDir, 2)
    // ten three-token search probes and ten vectors, as local rows
    val text = docs.filter(col("doc_id") % 41 === 5).limit(10)
      .select((col("doc_id") + 9000000L).as("doc_id"),
        concat_ws(" ", slice(TF.tokens(col("text")), 1, 3)).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val vecs = emb.filter(col("doc_id") % 41 === 5).limit(10)
      .select((col("doc_id") + 9000000L).as("doc_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    def probesText: DataFrame = text.toDF("doc_id", "text")
    def probesEmb: DataFrame = vecs.toDF("doc_id", "embedding")
    def probe(): Unit = Retrieval.hybridRrfIndexed(spark, tDir, iDir,
      probesText, probesEmb, "doc_id", "text", "embedding", kInner = 10,
      k = 3, termCfg = tCfg).collect()
    probe() // warm: loads the segment snapshots
    assert(Retrieval.lastGateDecision.isEmpty, "the probe must fuse both legs")
    val snapshot = Seq.fill(2)(jobsOf(probe()))
    // the scan path, which serves versions above the snapshot bound:
    // its two legs and the sparse leg's pricing, each pinned at the
    // count measured when this budget was set
    val tv = TermIndex.latestVersion(spark, tDir)
    val iv = IvfIndex.latestVersion(spark, iDir)
    val termScan = jobsOf(TermIndex.topKAtScan(spark, tDir, tv, probesText,
      "doc_id", "text", 10, tCfg.copy(
        maxCandidateFraction = TermIndex.ExactUnbounded)).collect())
    val termPrice = jobsOf(TermIndex.estimateProbeCostScan(spark, tDir, tv,
      probesText, "doc_id", "text", tCfg))
    val ivfScan = jobsOf(IvfIndex.topKAtScan(spark, iDir, iv, probesEmb,
      "doc_id", "embedding", 10, 4).collect())
    info(s"jobs per call: hybrid (snapshot) ${snapshot.mkString(", ")}; " +
      s"scan legs: term topK $termScan, term pricing $termPrice, " +
      s"ivf topK $ivfScan")
    assert(snapshot.forall(_ <= 10), s"snapshot probe: $snapshot jobs")
    assert(termScan <= TermScanJobs, s"term scan: $termScan jobs")
    assert(termPrice <= TermPriceJobs, s"term pricing: $termPrice jobs")
    assert(ivfScan <= IvfScanJobs, s"ivf scan: $ivfScan jobs")
  }

  // the scan path's counts when the snapshot path was added
  private val TermScanJobs = 24
  private val TermPriceJobs = 10
  private val IvfScanJobs = 7

  test("a warm CDC call plus gc, per index family, and Tables.load: " +
    "pinned job budgets") {
    val dir = java.nio.file.Files.createTempDirectory("budget_cdc").toString
    val tCfg = TermIndex.Config(buckets = 8)
    val iCfg = IvfIndex.Config(dim = 64, nList = 8, iters = 2)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val base = col("doc_id") < 450
    DigestIndex.build(spark, docs.filter(base), "doc_id", "text", s"$dir/digest")
      .unpersist()
    MinhashIndex.build(spark, docs.filter(base), "doc_id", "text", s"$dir/minhash")
    TermIndex.build(spark, docs.filter(base), "doc_id", "text", s"$dir/term", tCfg)
    IvfIndex.build(spark, emb.filter(base), "doc_id", "embedding", s"$dir/ivf", iCfg)
    // the shape of the cdc benchmark's ingest op: upserts (new ids and
    // revisions) and deletes through each family, then its gc with the
    // streaming wrappers' retention
    def cdc(lo: Long, revise: Int, del: Int): Map[String, Int] = {
      val ups = (col("doc_id") >= lo && col("doc_id") < lo + 25) ||
        col("doc_id") % revise === 0
      val text = docs.filter(ups)
        .select(col("doc_id"), concat(col("text"), lit(" revised")).as("text"))
      val vecs = emb.filter(ups)
      val dels = docs.filter(col("doc_id") % del === 1).select("doc_id")
      val dead = dels.unionByName(text.select("doc_id"))
      var pairs = Seq.empty[DataFrame]
      val counts = Map(
        "digest" -> jobsOf {
          pairs :+= DigestIndex.applyCdc(spark, s"$dir/digest", text, dels,
            "doc_id", "text")
          DigestIndex.gc(spark, s"$dir/digest", 2)
        },
        "minhash" -> jobsOf {
          MinhashIndex.deleteFromIndex(spark, s"$dir/minhash", dead, "doc_id")
          pairs :+= MinhashIndex.ingest(spark, s"$dir/minhash", text, "doc_id", "text")
          MinhashIndex.gc(spark, s"$dir/minhash", 3)
        },
        "term" -> jobsOf {
          TermIndex.applyCdc(spark, s"$dir/term", text, dels, "doc_id", "text", tCfg)
          TermIndex.gc(spark, s"$dir/term", 2)
        },
        "ivf" -> jobsOf {
          IvfIndex.applyCdc(spark, s"$dir/ivf", vecs, dels, "doc_id", "embedding", iCfg)
          IvfIndex.gc(spark, s"$dir/ivf", 2)
        })
      pairs.foreach(_.unpersist())
      counts
    }
    val warm = withDefaultBroadcast {
      cdc(450, 19, 17) // warm
      cdc(475, 23, 13)
    }
    val load = jobsOf(Tables.names.foreach(Tables.load(spark, sf, _)))
    info(s"jobs per warm CDC call + gc: $warm; Tables.load of every table: $load")
    CdcJobs.foreach { case (family, bound) =>
      assert(warm(family) <= bound, s"$family: ${warm(family)} jobs, bound $bound")
    }
    assert(load == 0, s"Tables.load: $load jobs")
  }

  // measured when footer reads replaced schema inference and the counts
  // of fresh tables (the commit before read 32, 64, 21 and 13, and 10
  // for Tables.load)
  private val CdcJobs = Map("digest" -> 28, "minhash" -> 47, "term" -> 21, "ivf" -> 10)

  /** `f` under Spark's default auto-broadcast threshold: the counts are
    * of Spark's default planning, and in a shared test JVM an earlier
    * suite may have changed the setting on this session. */
  private def withDefaultBroadcast[T](f: => T): T = {
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(bcast)
    spark.conf.unset(bcast)
    try f finally saved.foreach(spark.conf.set(bcast, _))
  }

  test("a warm view refresh, Ivm.applyDelta plus gc, on a small " +
    "insert/delete batch: pinned job budget") {
    val dir = java.nio.file.Files.createTempDirectory("budget_view")
      .toString + "/view"
    // the stream-maintained view of the cdc benchmark
    val rows = Tables.load(spark, sf, "documents").select(col("doc_id"),
      col("lang"), col("source"), length(col("text")).cast("long").as("n_chars"))
    val spec = Ivm.Spec(groupCols = Seq("lang"), aggs = Seq(
      Ivm.Count("cnt"), Ivm.Sum("n_chars", "sum_chars"), Ivm.Min("doc_id", "min_id"),
      Ivm.Max("n_chars", "max_chars"), Ivm.Avg("n_chars", "avg_chars"),
      Ivm.CountDistinct("source", "n_sources")))
    Ivm.create(spark, dir, rows.schema, spec, nBuckets = 8)
    Ivm.applyDelta(spark, dir, rows.filter(col("doc_id") < 450), rows.limit(0))
    // 25 new rows in, and a share of the base rows out (each deleted once)
    def refresh(lo: Long, del: Column): Int = jobsOf {
      Ivm.applyDelta(spark, dir,
        rows.filter(col("doc_id") >= lo && col("doc_id") < lo + 25),
        rows.filter(col("doc_id") < 450 && del))
      Ivm.gc(spark, dir, 2)
    }
    val counts = withDefaultBroadcast(Seq(
      refresh(450, col("doc_id") % 17 === 1), // warm
      refresh(475, col("doc_id") % 13 === 1 && col("doc_id") % 17 =!= 1)))
    info(s"jobs per view refresh + gc: ${counts.mkString(", ")}")
    assert(counts(1) <= ViewRefreshJobs, s"view refresh: ${counts(1)} jobs")
    val want = rows.filter(col("doc_id") < 500 &&
        !(col("doc_id") < 450 && (col("doc_id") % 17 === 1 || col("doc_id") % 13 === 1)))
      .groupBy("lang").agg(count(lit(1)).as("cnt")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Ivm.readView(spark, dir).select("lang", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  // measured when the view refresh was pinned, the jobs of Par's
  // concurrent z-set and view commits counted under the caller's group
  private val ViewRefreshJobs = 27

  test("a warm stream micro-batch of each maintained view, on a small " +
    "insert/delete batch: pinned job budgets") {
    val dir = java.nio.file.Files.createTempDirectory("budget_stream").toString
    def events(ins: DataFrame, del: DataFrame): DataFrame =
      ins.withColumn("op", lit("insert")).unionByName(del.withColumn("op", lit("delete")))
    def collect(rows: DataFrame, batchId: Long): Unit = rows.collect()
    // the cdc benchmark's stream op: an Ivm view fed insert/delete
    // batches through the stream wrapper (batch 0 pins the pairing and
    // loads the base rows, batch 1 warms, batch 2 is counted)
    val rows = Tables.load(spark, sf, "documents").select(col("doc_id"),
      col("lang"), col("source"), length(col("text")).cast("long").as("n_chars"))
    val spec = Ivm.Spec(groupCols = Seq("lang"), aggs = Seq(
      Ivm.Count("cnt"), Ivm.Sum("n_chars", "sum_chars"), Ivm.Min("doc_id", "min_id"),
      Ivm.Max("n_chars", "max_chars"), Ivm.Avg("n_chars", "avg_chars"),
      Ivm.CountDistinct("source", "n_sources")))
    Ivm.create(spark, s"$dir/view", rows.schema, spec, nBuckets = 8)
    def viewBatch(b: Long, ins: Column, del: Column): Unit =
      Streams.cdcViewBatch(events(rows.filter(ins), rows.filter(col("doc_id") < 450 && del)),
        b, "op", s"$dir/view", 2)(collect)
    def next25(lo: Long): Column = col("doc_id") >= lo && col("doc_id") < lo + 25
    // the two join views over orders ⋈ customer on the customer key: a
    // batch inserts held-out orders, deletes base orders and moves a
    // few customers to another segment (delete and insert)
    val fact = Tables.load(spark, sf, "orders")
      .select(col("o_custkey").as("k"), col("o_orderkey").as("v"))
    val dim = Tables.load(spark, sf, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
    def sides(f: DataFrame, d: DataFrame): DataFrame =
      f.withColumn("seg", lit(null).cast("string")).withColumn("side", lit("fact"))
        .unionByName(d.withColumn("v", lit(null).cast("long")).withColumn("side", lit("dim")))
    val held = col("v") % 10 === 0
    def joinEvents(b: Long): DataFrame =
      if (b == 0) events(sides(fact.filter(!held), dim), sides(fact.limit(0), dim.limit(0)))
      else {
        val moved = dim.filter(col("k") % 13 === b)
        events(
          sides(fact.filter(held && col("v") % 20 === 10 * (b - 1)),
            moved.withColumn("seg", concat(col("seg"), lit("*")))),
          sides(fact.filter(!held && col("v") % 17 === b), moved))
      }
    val joinSpec = JoinIvm.Spec(Seq("k"), Seq("seg"),
      Seq(Ivm.Count("cnt"), Ivm.Sum("v", "sum_v"), Ivm.Avg("v", "avg_v")))
    val fullSpec = IvmOverJoin.Spec(Seq("k"), Seq("seg"),
      Seq(Ivm.Count("cnt"), Ivm.Min("v", "min_v"), Ivm.Max("v", "max_v"),
        Ivm.CountDistinct("v", "n_vals"), Ivm.Sum("v", "sum_v")))
    JoinIvm.create(spark, s"$dir/join", fact.schema, dim.schema, joinSpec, nBuckets = 8)
    IvmOverJoin.create(spark, s"$dir/full", fact.schema, dim.schema, fullSpec, nBuckets = 8)
    def joinBatch(b: Long): Unit =
      Streams.cdcJoinViewBatch(joinEvents(b), b, "op", "side", s"$dir/join", 2)(collect)
    def fullBatch(b: Long): Unit =
      Streams.cdcFullJoinViewBatch(joinEvents(b), b, "op", "side", s"$dir/full", 2)(collect)
    val counts = withDefaultBroadcast {
      viewBatch(0, col("doc_id") < 450, lit(false)); joinBatch(0); fullBatch(0)
      viewBatch(1, next25(450), col("doc_id") % 17 === 1); joinBatch(1); fullBatch(1) // warm
      Map(
        "view" -> jobsOf(viewBatch(2, next25(475),
          col("doc_id") % 13 === 1 && col("doc_id") % 17 =!= 1)),
        "join" -> jobsOf(joinBatch(2)),
        "full" -> jobsOf(fullBatch(2)))
    }
    info(s"jobs per warm stream micro-batch: $counts")
    StreamBatchJobs.foreach { case (view, bound) =>
      assert(counts(view) <= bound, s"$view: ${counts(view)} jobs, bound $bound")
    }
    // every order has its customer, so each join view counts the live orders
    val live = fact.filter(!held || col("v") % 20 === 0 || col("v") % 20 === 10)
      .filter(!(!held && (col("v") % 17 === 1 || col("v") % 17 === 2))).count()
    Seq(JoinIvm.readView(spark, s"$dir/join"), IvmOverJoin.readView(spark, s"$dir/full"))
      .foreach(v => assert(v.agg(sum("cnt")).head.getLong(0) == live))
    assert(Ivm.readView(spark, s"$dir/view").agg(sum("cnt")).head.getLong(0) ==
      rows.filter(col("doc_id") < 500 && !(col("doc_id") < 450 &&
        (col("doc_id") % 17 === 1 || col("doc_id") % 13 === 1))).count())
  }

  // measured at the commit before the stream wrappers shared one
  // replay-pin protocol, which had to keep them
  private val StreamBatchJobs = Map("view" -> 38, "join" -> 64, "full" -> 88)
}
