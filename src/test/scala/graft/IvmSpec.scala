package graft

import graft.operators.{Ivm, JoinIvm, MergeTable}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * MergeTable (copy-on-write bucketed keyed table) and Ivm (counting
 * incremental view maintenance) — semantics, the no-corpus-rewrite
 * invariant (untouched bucket POINTERS survive a merge verbatim), the
 * consistency guards (negative multiplicity reject, stale VIEWSYNC
 * refuse + rebuild), and a seeded random CDC walk whose maintained
 * view must equal a from-scratch driver-model recompute after every
 * commit.
 */
class IvmSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString + "/t"

  private def rowsDf(rows: Seq[(Long, String, Long)]): DataFrame =
    rows.toDF("k", "g", "v")

  // ---- MergeTable ----

  test("merge: replace-by-key, delete-wins, absent-key delete no-op") {
    val dir = tmp("graft_mt")
    MergeTable.build(spark, dir,
      rowsDf(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))),
      keyCols = Seq("k"), bucketCols = Seq("k"), nBuckets = 4)
    // upsert k=2 (replace) and k=9 (insert); delete k=3 and k=77
    // (absent, no-op); k=9 in both sides resolves delete-wins
    MergeTable.merge(spark, dir,
      rowsDf(Seq((2L, "a", 21L), (9L, "c", 90L))),
      Seq(3L, 77L, 9L).toDF("k"))
    val got = MergeTable.read(spark, dir).as[(Long, String, Long)]
      .collect().toSet
    assert(got == Set((1L, "a", 10L), (2L, "a", 21L)))
    // upsert-wins form: the same overlap keeps the upsert
    MergeTable.merge(spark, dir,
      rowsDf(Seq((9L, "c", 91L))), Seq(9L).toDF("k"), deleteWins = false)
    assert(MergeTable.read(spark, dir).filter($"k" === 9L)
      .as[(Long, String, Long)].collect().toSeq == Seq((9L, "c", 91L)))
  }

  test("merge rejects duplicate upsert keys and null keys") {
    val dir = tmp("graft_mt_bad")
    MergeTable.build(spark, dir, rowsDf(Seq((1L, "a", 1L))),
      Seq("k"), Seq("k"), 4)
    val v0 = MergeTable.latestVersion(spark, dir)
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, dir,
        rowsDf(Seq((5L, "a", 1L), (5L, "a", 2L))), Seq.empty[Long].toDF("k"))
    }
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, dir,
        Seq((Option.empty[Long], "a", 1L)).toDF("k", "g", "v"),
        Seq.empty[Long].toDF("k"))
    }
    // nothing committed by either rejected batch
    assert(MergeTable.latestVersion(spark, dir) == v0)
    assert(MergeTable.read(spark, dir).count() == 1)
  }

  test("untouched buckets keep their manifest pointers verbatim (no corpus rewrite)") {
    val dir = tmp("graft_mt_cow")
    val init = (0L until 64L).map(k => (k, s"g${k % 5}", k * 10))
    MergeTable.build(spark, dir, rowsDf(init), Seq("k"), Seq("k"), 16)
    val v = MergeTable.latestVersion(spark, dir)
    val before = MergeTable.readManifest(spark, dir, v).toMap2
    MergeTable.merge(spark, dir, rowsDf(Seq((7L, "gX", 777L))),
      Seq.empty[Long].toDF("k"))
    val after = MergeTable
      .readManifest(spark, dir, MergeTable.latestVersion(spark, dir)).toMap2
    val touched = after.keySet.filter(b => before.get(b) != after.get(b))
    // exactly the single bucket k=7 hashes to was rewritten; every
    // other bucket's (path, rows) pointer is byte-identical
    assert(touched.size == 1, s"rewrote buckets $touched")
    assert((after.keySet - touched.head).forall(b =>
      before(b) == after(b)))
    // k=7 existed — the merge REPLACED it, count unchanged
    assert(MergeTable.read(spark, dir).count() == 64)
    assert(MergeTable.read(spark, dir).filter($"k" === 7L)
      .select("v").as[Long].collect().toSeq == Seq(777L))
  }

  implicit class ManifestOps(m: Seq[(Int, String, Long)]) {
    def toMap2: Map[Int, (String, Long)] =
      m.map { case (b, rel, n) => b -> ((rel, n)) }.toMap
  }

  test("pinned reads survive until gc; gc reclaims unreferenced bucket dirs") {
    val dir = tmp("graft_mt_gc")
    MergeTable.build(spark, dir, rowsDf(Seq((1L, "a", 1L), (2L, "b", 2L))),
      Seq("k"), Seq("k"), 4)
    val v1 = MergeTable.latestVersion(spark, dir)
    MergeTable.merge(spark, dir, rowsDf(Seq((1L, "a", 99L))),
      Seq.empty[Long].toDF("k"))
    // pinned read of the pre-merge version
    assert(MergeTable.readAt(spark, dir, v1).filter($"k" === 1L)
      .select("v").as[Long].collect().toSeq == Seq(1L))
    MergeTable.gc(spark, dir, retainLast = 1)
    assert(MergeTable.read(spark, dir).filter($"k" === 1L)
      .select("v").as[Long].collect().toSeq == Seq(99L))
    val e = intercept[IllegalArgumentException] {
      MergeTable.readAt(spark, dir, v1)
    }
    assert(e.getMessage.contains("garbage-collected"))
  }

  test("concurrent merges: claims serialize writers, loser retries to a consistent state") {
    val dir = tmp("graft_mt_race")
    MergeTable.build(spark, dir, rowsDf(Seq((1L, "a", 1L))),
      Seq("k"), Seq("k"), 4)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val retries = new java.util.concurrent.atomic.AtomicLong(0)
    def writer(k: Long): Thread = {
      val t = new Thread(() => {
        gate.await()
        var done = false
        while (!done) {
          try {
            MergeTable.merge(spark, dir, rowsDf(Seq((k, "w", k))),
              Seq.empty[Long].toDF("k"))
            done = true
          } catch {
            case _: graft.operators.ConcurrentCommitException =>
              retries.incrementAndGet(); Thread.sleep(20)
          }
        }
      })
      t.start(); t
    }
    val ts = Seq(writer(100L), writer(200L), writer(300L))
    gate.countDown()
    ts.foreach(_.join(120000))
    // every batch landed exactly once; the chain is linear
    assert(MergeTable.read(spark, dir).as[(Long, String, Long)]
      .collect().toSet ==
      Set((1L, "a", 1L), (100L, "w", 100L), (200L, "w", 200L),
        (300L, "w", 300L)))
    assert(MergeTable.latestVersion(spark, dir) == 5,
      s"expected a linear 5-version chain, got " +
        s"${MergeTable.latestVersion(spark, dir)} (retries ${retries.get})")
  }

  test("gc reaps stray (torn-merge) state dirs; routing bugs reject before commit") {
    val dir = tmp("graft_mt_stray")
    MergeTable.build(spark, dir, rowsDf(Seq((1L, "a", 1L), (2L, "b", 2L))),
      Seq("k"), Seq("k"), 4)
    MergeTable.merge(spark, dir, rowsDf(Seq((3L, "c", 3L))),
      Seq.empty[Long].toDF("k"))
    // a torn merge's strand: a bucket dir under an old p-seq that no
    // manifest references
    val stray = new java.io.File(s"$dir/state/p00002x9/__bucket=0")
    stray.mkdirs()
    java.nio.file.Files.write(stray.toPath.resolve("junk.parquet"),
      Array[Byte](1, 2, 3))
    MergeTable.gc(spark, dir, retainLast = 1)
    assert(!stray.exists, "gc left the unreferenced strand")
    assert(MergeTable.read(spark, dir).count() == 3)
    // a refresh that mutates bucket columns (rows land in untouched
    // buckets) is rejected BEFORE the manifest commit, and the claim
    // releases so the next merge proceeds
    val v0 = MergeTable.latestVersion(spark, dir)
    val touch = rowsDf(Seq((1L, "a", 1L))).select("k")
    val e = intercept[IllegalArgumentException] {
      // 20 extra keys: with 4 buckets at least one lands outside the
      // single touched bucket (xxhash64 is fixed — deterministic)
      MergeTable.mergeCompute(spark, dir, touch)(old =>
        old.unionByName(rowsDf((100L to 119L).map(k => (k, "x", k)))))
    }
    assert(e.getMessage.contains("untouched buckets"))
    assert(MergeTable.latestVersion(spark, dir) == v0)
    MergeTable.merge(spark, dir, rowsDf(Seq((9L, "z", 9L))),
      Seq.empty[Long].toDF("k"))
    assert(MergeTable.read(spark, dir).count() == 4)
  }

  test("scatter merges commit as overlay deltas: no bucket rewrite, exact reads, newest-wins, compact drains") {
    val dir = tmp("graft_mt_delta")
    // production floor (~1M touched rows) is above any toy table —
    // zero it so the overlay path itself is what this test exercises
    spark.conf.set("graft.mergetable.scatter.minRows", "0")
    val init = (0L until 64L).map(k => (k, "g", k))
    MergeTable.build(spark, dir, rowsDf(init), Seq("k"), Seq("k"), 16)
    val v1 = MergeTable.latestVersion(spark, dir)
    val bucketsBefore = MergeTable.readManifest(spark, dir, v1).toSet
    val d0 = MergeTable.deltaCommits.get
    // scattered batch: every 4th key upserted (touches ~most buckets,
    // far more touched mass than batch size) + two deletes
    val upKeys = (0L until 64L by 4L)
    MergeTable.merge(spark, dir,
      rowsDf(upKeys.map(k => (k, "gX", k + 100L))),
      Seq(1L, 2L).toDF("k"))
    assert(MergeTable.deltaCommits.get == d0 + 1,
      "a scattered batch must take the overlay path")
    val v2 = MergeTable.latestVersion(spark, dir)
    assert(v2 == v1 + 1, "exactly one version per merge")
    assert(MergeTable.readManifest(spark, dir, v2).toSet == bucketsBefore,
      "an overlay commit must not rewrite ANY bucket pointer")
    assert(MergeTable.overlayStats(spark, dir) ==
      ((1, upKeys.size.toLong, 2L)))
    def asSet(df: DataFrame): Set[(Long, String, Long)] =
      df.as[(Long, String, Long)].collect().toSet
    val want1 = init.filterNot(r =>
      upKeys.contains(r._1) || r._1 == 1L || r._1 == 2L).toSet ++
      upKeys.map(k => (k, "gX", k + 100L))
    assert(asSet(MergeTable.read(spark, dir)) == want1)
    // pinned read at v1 is undisturbed by the overlay
    assert(MergeTable.readAt(spark, dir, v1).count() == 64)
    // second overlay: the NEWEST delta wins per key; a deleted key
    // re-inserts; readForKeysAt sees the reconciled rows too
    MergeTable.merge(spark, dir,
      rowsDf(Seq((0L, "gY", 200L), (1L, "gY", 201L))),
      Seq(4L).toDF("k"))
    val want2 = want1.filterNot(r => Set(0L, 1L, 4L).contains(r._1)) ++
      Set((0L, "gY", 200L), (1L, "gY", 201L))
    assert(asSet(MergeTable.read(spark, dir)) == want2)
    val (forKeys, _) = MergeTable.readForKeysAt(spark, dir,
      MergeTable.latestVersion(spark, dir), Seq(0L, 4L, 3L).toDF("k"))
    val fk = asSet(forKeys)
    assert(fk.contains((0L, "gY", 200L)) && !fk.exists(_._1 == 4L) &&
      fk.contains((3L, "g", 3L)))
    // clustered COW merge with the overlay outstanding: the rewritten
    // bucket folds its overlay rows (higher seq masks them); others
    // keep reconciling
    val c0 = MergeTable.cowCommits.get
    MergeTable.merge(spark, dir, rowsDf(Seq((3L, "gZ", 303L))),
      Seq.empty[Long].toDF("k"))
    assert(MergeTable.cowCommits.get == c0 + 1,
      "a one-bucket batch must stay copy-on-write")
    val want3 = want2.filterNot(_._1 == 3L) + ((3L, "gZ", 303L))
    assert(asSet(MergeTable.read(spark, dir)) == want3)
    // compact drains the overlay; content identical; delta dirs reaped
    MergeTable.compact(spark, dir)
    assert(MergeTable.overlayStats(spark, dir) == ((0, 0L, 0L)))
    assert(asSet(MergeTable.read(spark, dir)) == want3)
    MergeTable.gc(spark, dir, retainLast = 1)
    val dDirs = Option(new java.io.File(s"$dir/state").listFiles)
      .get.count(_.getName.startsWith("d"))
    assert(dDirs == 0, "gc must reap unreferenced overlay datasets")
    spark.conf.unset("graft.mergetable.scatter.minRows")
  }

  test("overlay budget breach folds overlay + batch in ONE version") {
    val dir = tmp("graft_mt_fold")
    spark.conf.set("graft.mergetable.scatter.minRows", "0")
    spark.conf.set("graft.mergetable.delta.minRows", "20")
    spark.conf.set("graft.mergetable.delta.maxRows", "20")
    try {
      val init = (0L until 64L).map(k => (k, "g", k))
      MergeTable.build(spark, dir, rowsDf(init), Seq("k"), Seq("k"), 16)
      def scatter(tag: String, bump: Long) = MergeTable.merge(spark, dir,
        rowsDf((0L until 64L by 8L).map(k => (k, tag, k + bump))),
        Seq.empty[Long].toDF("k"))
      val (d0, f0) = (MergeTable.deltaCommits.get, MergeTable.foldCommits.get)
      val va = scatter("gA", 100L) // 8 rows ≤ budget 20 → overlay
      scatter("gB", 200L)          // 16 ≤ 20 → overlay
      assert(MergeTable.deltaCommits.get == d0 + 2)
      assert(MergeTable.overlayStats(spark, dir)._1 == 2)
      val vc = scatter("gC", 300L) // 16 + 8 > 20 → FOLD, one version
      assert(vc == va + 2, "a fold must not consume an extra version")
      assert(MergeTable.foldCommits.get == f0 + 1)
      assert(MergeTable.overlayStats(spark, dir) == ((0, 0L, 0L)))
      assert(MergeTable.read(spark, dir)
        .filter($"g" === "gC").count() == 8)
      assert(MergeTable.read(spark, dir).count() == 64)
    } finally {
      spark.conf.unset("graft.mergetable.scatter.minRows")
      spark.conf.unset("graft.mergetable.delta.minRows")
      spark.conf.unset("graft.mergetable.delta.maxRows")
    }
  }

  test("key-pruned reads: candidate pushdown scans candidate-sized rows (row-group stats), results identical to whole-bucket") {
    val dir = tmp("graft_mt_prune")
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    // tiny row groups so stats pruning is observable at test scale
    // (with the 128 MB default a toy bucket is ONE row group and the
    // isin can prune nothing; dictionary + delta encoding pack ~700
    // of these rows per 4 KB group — 16 KB held ~2750/group, too
    // coarse for the ≤¼-scan assertion below)
    hc.setInt("parquet.block.size", 4 * 1024)
    spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "512")
    try {
      val n = 40000L
      MergeTable.build(spark, dir,
        rowsDf((0L until n).map(k => (k, s"g${k % 7}", k))),
        Seq("k"), Seq("k"), 4)
      val v = MergeTable.latestVersion(spark, dir)
      val cand: Seq[Long] = (0L until n by 4000L) // 10 scattered keys
      val touched = (0 until 4).toSet
      def scanRows(df: DataFrame): Long = {
        df.collect()
        import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        def scans(p: SparkPlan): Seq[Long] = p.collect {
          case f: FileSourceScanExec =>
            Seq(f.metrics("numOutputRows").value)
          case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        }.flatten
        scans(df.queryExecution.executedPlan).sum
      }
      val whole = MergeTable.readBucketsAt(spark, dir, v, touched)
      val pruned = MergeTable.readBucketsAt(spark, dir, v, touched,
        Some(cand))
      val rowsWhole = scanRows(whole)
      val rowsPruned = scanRows(pruned)
      assert(rowsWhole == n, s"whole-bucket read must scan the table: " +
        s"$rowsWhole")
      assert(rowsPruned <= rowsWhole / 4,
        s"candidate pushdown must prune row groups: scanned $rowsPruned " +
          s"of $rowsWhole rows for ${cand.size} candidates")
      // exactness: the pruned frame masked to the candidates is
      // byte-identical to the whole-bucket frame masked the same way
      val kDf = cand.toDF("k")
      def exact(df: DataFrame): Set[(Long, String, Long)] =
        df.join(broadcast(kDf), Seq("k"), "left_semi")
          .as[(Long, String, Long)].collect().toSet
      val (ep, ew) = (exact(pruned), exact(whole))
      assert(ep == ew && ew.size == cand.size)
    } finally {
      oldBlock match {
        case Some(b) => hc.set("parquet.block.size", b)
        case None    => hc.unset("parquet.block.size")
      }
    }
  }

  test("key-pruned scattered refresh: a scatter-shaped Ivm batch stages the pruned read and the maintained view stays exact (clean-twin equal)") {
    val dirty = tmp("graft_ivm_prune")
    val clean = tmp("graft_ivm_prune_clean")
    spark.conf.set("graft.mergetable.scatter.minRows", "0")
    try {
      // 2000 groups × 4 rows — a batch touching every 100th group is
      // the scatter shape (touched mass ≈ the whole z-set, batch tiny)
      val init = (0L until 8000L).map(k =>
        (k, s"g${k % 2000}", k % 97, s"t${k % 5}"))
      Seq(dirty, clean).foreach { d =>
        Ivm.create(spark, d, baseDf(init).schema, specG, nBuckets = 8)
        Ivm.applyDelta(spark, d, baseDf(init), baseDf(Seq.empty))
      }
      val ins = (0L until 2000L by 100L).map(g =>
        (100000L + g, s"g$g", 1000L, "tX"))
      // deletes carry before-images of seeded rows in the same groups
      val dels = init.filter(r => r._2.stripPrefix("g").toLong % 100 == 0)
        .take(20)
      val (d0, p0) =
        (MergeTable.deltaCommits.get, MergeTable.keyPrunedReads.get)
      Ivm.applyDelta(spark, dirty, baseDf(ins), baseDf(dels))
      assert(MergeTable.deltaCommits.get > d0,
        "the batch must be scatter-shaped (overlay commit)")
      assert(MergeTable.keyPrunedReads.get > p0,
        "a scatter-shaped refresh must stage the key-pruned read")
      // clean twin: same batch with pruning disabled (cap 0) — the
      // staged read is whole-bucket, everything else identical
      spark.conf.set("graft.mergetable.keyPrune.maxValues", "0")
      val p1 = MergeTable.keyPrunedReads.get
      Ivm.applyDelta(spark, clean, baseDf(ins), baseDf(dels))
      assert(MergeTable.keyPrunedReads.get == p1,
        "cap 0 must disable pruning")
      val model = init.filterNot(dels.toSet) ++ ins
      assert(Ivm.readView(spark, dirty).collect().toSet == modelView(model))
      assert(Ivm.readView(spark, dirty).collect().toSet ==
        Ivm.readView(spark, clean).collect().toSet)
      assert(Ivm.readZset(spark, dirty)
          .as[(String, Long, String, Long)].collect().toSet ==
        Ivm.readZset(spark, clean)
          .as[(String, Long, String, Long)].collect().toSet,
        "pruned and whole-bucket staging must land identical z-sets")
    } finally {
      spark.conf.unset("graft.mergetable.scatter.minRows")
      spark.conf.unset("graft.mergetable.keyPrune.maxValues")
    }
  }

  test("a COW rewrite that EMPTIES a bucket still masks older overlay rows for it (emptied-at-seq marker)") {
    val dir = tmp("graft_mt_marker")
    spark.conf.set("graft.mergetable.scatterFraction", "0.01")
    spark.conf.set("graft.mergetable.scatter.minRows", "0")
    try {
      val init = (0L until 16L).map(k => (k, "g", k))
      MergeTable.build(spark, dir, rowsDf(init), Seq("k"), Seq("k"), 4)
      val d0 = MergeTable.deltaCommits.get
      MergeTable.merge(spark, dir, rowsDf(Seq((7L, "gO", 700L))),
        Seq.empty[Long].toDF("k"))
      assert(MergeTable.deltaCommits.get == d0 + 1,
        "the tiny scatterFraction must force the overlay path")
      // keys living in 7's bucket (overlay-reconciled)
      val b7 = MergeTable.readForKeysAt(spark, dir,
        MergeTable.latestVersion(spark, dir), Seq(7L).toDF("k"))._1
        .as[(Long, String, Long)].collect().map(_._1).toSet
      assert(b7.contains(7L))
      // COW-empty that bucket while the overlay still lists 7's upsert:
      // without the emptied-at-seq marker the overlay row would
      // resurrect key 7 on the next read
      MergeTable.mergeCompute(spark, dir, Seq(7L).toDF("k"))(old =>
        old.limit(0))
      val after = MergeTable.read(spark, dir)
        .as[(Long, String, Long)].collect().map(_._1).toSet
      assert(!after.contains(7L), "emptied bucket must not resurrect")
      assert(after == init.map(_._1).toSet -- b7)
      // and the masking survives compaction + gc
      MergeTable.compact(spark, dir)
      MergeTable.gc(spark, dir, retainLast = 1)
      val after2 = MergeTable.read(spark, dir)
        .as[(Long, String, Long)].collect().map(_._1).toSet
      assert(after2 == init.map(_._1).toSet -- b7)
    } finally {
      spark.conf.unset("graft.mergetable.scatterFraction")
      spark.conf.unset("graft.mergetable.scatter.minRows")
    }
  }

  // ---- Ivm ----

  private val specG = Ivm.Spec(
    groupCols = Seq("g"),
    aggs = Seq(Ivm.Count("cnt"), Ivm.Sum("v", "sum_v"), Ivm.Min("v", "min_v"),
      Ivm.Max("v", "max_v"), Ivm.Avg("v", "avg_v"),
      Ivm.CountDistinct("tag", "n_tags")))

  private def baseDf(rows: Seq[(Long, String, Long, String)]): DataFrame =
    rows.toDF("k", "g", "v", "tag")

  /** From-scratch aggregates of the model rows, in the view's column
    * order. */
  private def modelView(rows: Iterable[(Long, String, Long, String)])
      : Set[Row] =
    rows.groupBy(_._2).map { case (g, rs) =>
      val vs = rs.map(_._3)
      Row(g, rs.size.toLong, vs.sum, vs.min, vs.max,
        vs.map(_.toDouble).sum / rs.size, rs.map(_._4).toSet.size.toLong)
    }.toSet

  test("ivm: negative multiplicity (delete of never-inserted row) rejects atomically") {
    val dir = tmp("graft_ivm_neg")
    Ivm.create(spark, dir, baseDf(Seq((1L, "a", 1L, "t"))).schema, specG,
      nBuckets = 4)
    Ivm.applyDelta(spark, dir, baseDf(Seq((1L, "a", 5L, "t1"))),
      baseDf(Seq.empty))
    val viewBefore = Ivm.readView(spark, dir).collect().toSet
    val e = intercept[IllegalArgumentException] {
      Ivm.applyDelta(spark, dir, baseDf(Seq.empty),
        baseDf(Seq((2L, "a", 6L, "t2"))))
    }
    assert(e.getMessage.contains("NEGATIVE"))
    assert(Ivm.readView(spark, dir).collect().toSet == viewBefore)
    // the claim released — the next consistent batch commits fine
    Ivm.applyDelta(spark, dir, baseDf(Seq((2L, "a", 6L, "t2"))),
      baseDf(Seq.empty))
    assert(Ivm.readView(spark, dir).collect().toSet ==
      modelView(Seq((1L, "a", 5L, "t1"), (2L, "a", 6L, "t2"))))
  }

  test("ivm: SQL null semantics — avg ignores null values, null groups reject up front") {
    val dir = tmp("graft_ivm_null")
    val schema = Seq((1L, "a", Option(1L), "t")).toDF("k", "g", "v", "tag")
      .schema
    Ivm.create(spark, dir, schema, specG, nBuckets = 4)
    Ivm.applyDelta(spark, dir,
      Seq((1L, "a", Option(10L), "t1"), (2L, "a", Option.empty[Long], "t2"))
        .toDF("k", "g", "v", "tag"),
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    val r = Ivm.readView(spark, dir).collect()(0)
    assert(r.getLong(1) == 2L)            // cnt counts the null-v row
    assert(r.getDouble(5) == 10.0,        // avg_v skips it (SQL AVG)
      s"avg over [10, null] must be 10.0, got ${r.getDouble(5)}")
    // a NULL group key rejects before any commit
    val zv = Ivm.latestVersion(spark, dir)
    val e = intercept[IllegalArgumentException] {
      Ivm.applyDelta(spark, dir,
        Seq((3L, Option.empty[String], Option(1L), "t"))
          .toDF("k", "g", "v", "tag"),
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    }
    assert(e.getMessage.contains("NULL group"))
    assert(Ivm.latestVersion(spark, dir) == zv)
  }

  test("ivm: spec rejects a column in both groupCols and an aggregate input") {
    val e = intercept[IllegalArgumentException] {
      Ivm.Spec(Seq("g"), Seq(Ivm.Count("cnt"), Ivm.Min("g", "min_g")))
    }
    assert(e.getMessage.contains("BOTH groupCols"))
  }

  test("ivm: all-null-value group refreshes cleanly under ANSI mode (avg → null)") {
    val dir = tmp("graft_ivm_ansi")
    val schema = Seq((1L, "a", Option(1L), "t")).toDF("k", "g", "v", "tag")
      .schema
    Ivm.create(spark, dir, schema, specG, nBuckets = 4)
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      // every value in the group is null — the Avg denominator is 0;
      // the explicit guard must yield null instead of DIVIDE_BY_ZERO
      Ivm.applyDelta(spark, dir,
        Seq((1L, "a", Option.empty[Long], "t1"),
          (2L, "a", Option.empty[Long], "t2")).toDF("k", "g", "v", "tag"),
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      val r = Ivm.readView(spark, dir).collect()(0)
      assert(r.getLong(1) == 2L)
      assert(r.isNullAt(5), "avg over an all-null group must be null")
      Ivm.rebuildView(spark, dir)
      assert(Ivm.readView(spark, dir).collect()(0).isNullAt(5))
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  test("ivm stream wrapper: op values outside insert/delete fail loudly, nothing applied") {
    val dir = tmp("graft_ivm_badop")
    Ivm.create(spark, dir, baseDf(Seq((1L, "a", 1L, "t"))).schema, specG,
      nBuckets = 4)
    // an index-family feed (upsert/delete) wired in by mistake: the
    // batch must be rejected up front, not silently half-applied
    val bad = baseDf(Seq((1L, "a", 5L, "t1"))).withColumn("op", lit("upsert"))
      .unionByName(baseDf(Seq((2L, "b", 7L, "t2")))
        .withColumn("op", lit("insert")))
    val zv = Ivm.latestVersion(spark, dir)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.cdcViewBatch(bad, 0L, "op", dir, 2) {
        (_, _) => fail("must not emit")
      }
    }
    assert(e.getMessage.contains("insert"))
    assert(Ivm.latestVersion(spark, dir) == zv)
    assert(Ivm.readView(spark, dir).count() == 0)
  }

  test("ivm stream wrapper: a NULL op value fails loudly (null-safe validation), nothing applied") {
    val dir = tmp("graft_ivm_nullop")
    Ivm.create(spark, dir, baseDf(Seq((1L, "a", 1L, "t"))).schema, specG,
      nBuckets = 4)
    // a NULL op makes isin() NULL — a bare !isin validation filter
    // would drop the row (bad == 0 passes) and the equality splits
    // below would silently exclude it: the exact quiet partial batch
    // the validation exists to prevent
    val bad = baseDf(Seq((1L, "a", 5L, "t1")))
      .withColumn("op", org.apache.spark.sql.functions.lit(null)
        .cast("string"))
      .unionByName(baseDf(Seq((2L, "b", 7L, "t2")))
        .withColumn("op", lit("insert")))
    val zv = Ivm.latestVersion(spark, dir)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.cdcViewBatch(bad, 0L, "op", dir, 2) {
        (_, _) => fail("must not emit")
      }
    }
    assert(e.getMessage.contains("insert"))
    assert(Ivm.latestVersion(spark, dir) == zv)
    assert(Ivm.readView(spark, dir).count() == 0)
  }

  test("ivm: stale VIEWSYNC refuses applyDelta; rebuildView repairs") {
    val dir = tmp("graft_ivm_sync")
    Ivm.create(spark, dir, baseDf(Seq((1L, "a", 1L, "t"))).schema, specG,
      nBuckets = 4)
    Ivm.applyDelta(spark, dir,
      baseDf(Seq((1L, "a", 5L, "t1"), (2L, "b", 7L, "t2"))), baseDf(Seq.empty))
    // simulate a crash between the zset and view commits: roll the
    // marker back one version (through the Hadoop FS so the local
    // checksum file stays consistent)
    graft.operators.VersionedLayout.atomicWrite(
      graft.operators.VersionedLayout.fs(spark, dir),
      new org.apache.hadoop.fs.Path(dir, "VIEWSYNC"), "1")
    val e = intercept[IllegalArgumentException] {
      Ivm.applyDelta(spark, dir, baseDf(Seq((3L, "a", 9L, "t3"))),
        baseDf(Seq.empty))
    }
    assert(e.getMessage.contains("rebuildView"))
    Ivm.rebuildView(spark, dir)
    Ivm.applyDelta(spark, dir, baseDf(Seq((3L, "a", 9L, "t3"))),
      baseDf(Seq.empty))
    assert(Ivm.readView(spark, dir).collect().toSet == modelView(Seq(
      (1L, "a", 5L, "t1"), (2L, "b", 7L, "t2"), (3L, "a", 9L, "t3"))))
  }

  test("ivm: view AHEAD of its z-set (concurrent-commit crash window) is detected and repaired — stale rows never survive") {
    val dir = tmp("graft_ivm_ahead")
    Ivm.create(spark, dir, baseDf(Seq((1L, "a", 1L, "t"))).schema, specG,
      nBuckets = 4)
    Ivm.applyDelta(spark, dir,
      baseDf(Seq((1L, "a", 5L, "t1"), (2L, "b", 7L, "t2"))),
      baseDf(Seq.empty))
    // simulate the round-14 crash window the old z-only marker could
    // NOT see: the view commit landed (with rows computed from a z
    // delta that never landed) while the z-set and the marker stayed
    // behind — advance the view table directly with a wrong row
    val garbage = Ivm.readView(spark, dir)
      .filter(col("g") === "a")
      .withColumn("sum_v", col("sum_v") + 1000L)
    MergeTable.mergeResolved(spark, s"$dir/view", garbage,
      garbage.select("g").limit(0))
    assert(Ivm.viewStale(spark, dir),
      "a view ahead of its marker pair must read as stale")
    val e = intercept[IllegalArgumentException] {
      Ivm.applyDelta(spark, dir, baseDf(Seq((3L, "a", 9L, "t3"))),
        baseDf(Seq.empty))
    }
    assert(e.getMessage.contains("rebuildView"))
    Ivm.rebuildView(spark, dir)
    assert(!Ivm.viewStale(spark, dir))
    // the garbage row is gone — the repair recomputed from the z-set
    assert(Ivm.readView(spark, dir).collect().toSet == modelView(Seq(
      (1L, "a", 5L, "t1"), (2L, "b", 7L, "t2"))))
    Ivm.applyDelta(spark, dir, baseDf(Seq((3L, "a", 9L, "t3"))),
      baseDf(Seq.empty))
    assert(Ivm.readView(spark, dir).collect().toSet == modelView(Seq(
      (1L, "a", 5L, "t1"), (2L, "b", 7L, "t2"), (3L, "a", 9L, "t3"))))
  }

  test("ivm stream wrapper: per-batch commit, redelivery re-emits identically, crash self-heals") {
    val dir = tmp("graft_ivm_stream")
    Ivm.create(spark, dir, baseDf(Seq((1L, "a", 1L, "t"))).schema, specG,
      nBuckets = 4)
    def cdc(ins: Seq[(Long, String, Long, String)],
            del: Seq[(Long, String, Long, String)]): DataFrame =
      baseDf(ins).withColumn("op", lit("insert"))
        .unionByName(baseDf(del).withColumn("op", lit("delete")))
    var emitted = Map[Long, Set[Row]]()
    def drive(b: DataFrame, id: Long): Unit =
      graft.streaming.Streams.cdcViewBatch(b, id, "op", dir, 2) {
        (rows, bid) => emitted += bid -> rows.collect().toSet
      }
    drive(cdc(Seq((1L, "a", 5L, "t1"), (2L, "b", 7L, "t2")), Seq.empty), 0L)
    drive(cdc(Seq((3L, "a", 9L, "t3")), Seq((2L, "b", 7L, "t2"))), 1L)
    val view1 = Ivm.readView(spark, dir).collect().toSet
    assert(view1 == modelView(Seq((1L, "a", 5L, "t1"), (3L, "a", 9L, "t3"))))
    // batch 1 touched groups a (insert) and b (delete → group b died):
    // the emit carries a's refreshed row only (live groups)
    assert(emitted(1L) == modelView(
      Seq((1L, "a", 5L, "t1"), (3L, "a", 9L, "t3"))).filter(_.getString(0) == "a"))
    // REDELIVERY of batch 1: no double-apply, byte-identical emit
    val before = emitted(1L)
    drive(cdc(Seq((3L, "a", 9L, "t3")), Seq((2L, "b", 7L, "t2"))), 1L)
    assert(Ivm.readView(spark, dir).collect().toSet == view1)
    assert(emitted(1L) == before)
    // crash between the inner commits (marker rolled back): the replay
    // path self-heals (rebuildView) and still emits identically
    graft.operators.VersionedLayout.atomicWrite(
      graft.operators.VersionedLayout.fs(spark, dir),
      new org.apache.hadoop.fs.Path(dir, "VIEWSYNC"), "2")
    drive(cdc(Seq((3L, "a", 9L, "t3")), Seq((2L, "b", 7L, "t2"))), 1L)
    assert(!Ivm.viewStale(spark, dir))
    assert(Ivm.readView(spark, dir).collect().toSet == view1)
    assert(emitted(1L) == before)
    // a fresh batch continues normally after the repair
    drive(cdc(Seq((4L, "b", 2L, "t1")), Seq.empty), 2L)
    assert(Ivm.readView(spark, dir).collect().toSet == modelView(Seq(
      (1L, "a", 5L, "t1"), (3L, "a", 9L, "t3"), (4L, "b", 2L, "t1"))))
    // checkpoint reset against an existing view is refused loudly
    val e = intercept[IllegalStateException] {
      drive(cdc(Seq((9L, "c", 1L, "tz")), Seq.empty), 99L)
    }
    assert(e.getMessage.contains("disagree"))
  }

  // ---- JoinIvm ----

  private val jspec = JoinIvm.Spec(Seq("k"), Seq("seg"),
    Seq(Ivm.Count("cnt"), Ivm.Sum("v", "sum_v"), Ivm.Avg("v", "avg_v")))

  private def factDf(rows: Seq[(Long, Long)]): DataFrame =
    rows.toDF("k", "v")
  private def dimDf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("k", "seg")

  /** From-scratch join-aggregate of the model multisets. */
  private def jModel(fact: Seq[(Long, Long)],
                     dim: Seq[(Long, String)]): Set[Row] = {
    val joined = for {(k, v) <- fact; (k2, s) <- dim if k == k2} yield (s, v)
    joined.groupBy(_._1).map { case (s, rs) =>
      val vs = rs.map(_._2)
      Row(s, rs.size.toLong, vs.sum, vs.map(_.toDouble).sum / rs.size)
    }.toSet
  }

  test("join-ivm: two-sided deltas maintain the join rollup; guards fire cleanly") {
    val dir = tmp("graft_jivm")
    JoinIvm.create(spark, dir, factDf(Seq((1L, 1L))).schema,
      dimDf(Seq((1L, "s"))).schema, jspec, nBuckets = 4)
    val f0 = Seq((1L, 10L), (1L, 20L), (2L, 30L), (3L, 40L))
    val d0 = Seq((1L, "s0"), (2L, "s0"), (3L, "s1"))
    JoinIvm.applyDelta(spark, dir, factDf(f0), factDf(Seq.empty),
      dimDf(d0), dimDf(Seq.empty))
    assert(JoinIvm.readView(spark, dir).collect().toSet == jModel(f0, d0))
    // dim UPDATE (key 1 → s1) + fact churn in ONE two-sided batch
    val f1 = f0.filterNot(_ == ((2L, 30L))) :+ ((2L, 31L))
    val d1 = d0.filterNot(_ == ((1L, "s0"))) :+ ((1L, "s1"))
    JoinIvm.applyDelta(spark, dir,
      factDf(Seq((2L, 31L))), factDf(Seq((2L, 30L))),
      dimDf(Seq((1L, "s1"))), dimDf(Seq((1L, "s0"))))
    assert(JoinIvm.readView(spark, dir).collect().toSet == jModel(f1, d1))
    // inconsistent batch (delete of a never-inserted fact row): clean
    // abort — nothing committed, no stranded INFLIGHT, retry works
    val e = intercept[IllegalArgumentException] {
      JoinIvm.applyDelta(spark, dir, factDf(Seq.empty),
        factDf(Seq((9L, 999L))), dimDf(Seq.empty), dimDf(Seq.empty))
    }
    assert(e.getMessage.contains("NEGATIVE"))
    assert(JoinIvm.readView(spark, dir).collect().toSet == jModel(f1, d1))
    // NULL group key on the dim side: rejected BEFORE any side commit
    // (a view-fold-time discovery would strand a half-applied refresh)
    val fv = graft.operators.MergeTable.latestVersion(spark, s"$dir/factz")
    val dv = graft.operators.MergeTable.latestVersion(spark, s"$dir/dimz")
    val eN = intercept[IllegalArgumentException] {
      JoinIvm.applyDelta(spark, dir, factDf(Seq.empty), factDf(Seq.empty),
        Seq((5L, Option.empty[String])).toDF("k", "seg"), dimDf(Seq.empty))
    }
    assert(eN.getMessage.contains("NULL join/group"))
    assert(graft.operators.MergeTable.latestVersion(spark, s"$dir/factz") == fv)
    assert(graft.operators.MergeTable.latestVersion(spark, s"$dir/dimz") == dv)
    assert(!new java.io.File(s"$dir/INFLIGHT").exists,
      "clean abort must clear INFLIGHT")
    // interrupted-refresh marker: refused with the recovery procedure,
    // rebuildView clears it, the next delta proceeds
    graft.operators.VersionedLayout.atomicWrite(
      graft.operators.VersionedLayout.fs(spark, dir),
      new org.apache.hadoop.fs.Path(dir, "INFLIGHT"), "1 1")
    val e2 = intercept[IllegalArgumentException] {
      JoinIvm.applyDelta(spark, dir, factDf(Seq((4L, 50L))),
        factDf(Seq.empty), dimDf(Seq.empty), dimDf(Seq.empty))
    }
    assert(e2.getMessage.contains("interrupted refresh"))
    JoinIvm.rebuildView(spark, dir)
    val f2 = f1 :+ ((3L, 41L))
    JoinIvm.applyDelta(spark, dir, factDf(Seq((3L, 41L))),
      factDf(Seq.empty), dimDf(Seq.empty), dimDf(Seq.empty))
    assert(JoinIvm.readView(spark, dir).collect().toSet == jModel(f2, d1))
  }

  test("join-ivm + ivm-over-join: pre-commit joined-delta derivation " +
      "stays exact when ΔF and ΔD overlap keys and dim tuples carry " +
      "NULL value columns") {
    // r15: the joined delta is derived from PRE-COMMIT state + the
    // staged folds (D′ = D@dv0 minus ΔD's tuples ∪ staged new state,
    // null-safe on the FULL tuple) so the view staging can overlap the
    // side commits. The sharp edges this pins: (a) ΔD updates a dim
    // tuple whose VALUE column is NULL — a null-unsafe anti-join would
    // fail to remove the old tuple and double-count it in D′; (b) ΔF
    // churns the SAME join keys in the same batch, so both bilinear
    // terms engage over the overlap.
    val dir = tmp("graft_jivm_precommit")
    def fDf(rows: Seq[(Long, Long)]): DataFrame = rows.toDF("k", "v")
    def dDf(rows: Seq[(Long, String, Option[Long])]): DataFrame =
      rows.toDF("k", "seg", "w")
    val spec = JoinIvm.Spec(Seq("k"), Seq("seg"),
      Seq(Ivm.Count("cnt"), Ivm.Sum("v", "sum_v"), Ivm.Sum("w", "sum_w")))
    JoinIvm.create(spark, dir, fDf(Seq((1L, 1L))).schema,
      dDf(Seq((1L, "s", Some(1L)))).schema, spec, nBuckets = 4)
    def model(fact: Seq[(Long, Long)],
              dim: Seq[(Long, String, Option[Long])]): Set[Row] = {
      val joined = for { (k, v) <- fact; (k2, s, w) <- dim if k == k2 }
        yield (s, v, w)
      joined.groupBy(_._1).map { case (s, rs) =>
        val ws = rs.flatMap(_._3)
        Row(s, rs.size.toLong, rs.map(_._2).sum,
          if (ws.isEmpty) null else ws.sum)
      }.toSet
    }
    val f0 = Seq((1L, 10L), (1L, 20L), (2L, 30L), (3L, 40L))
    val d0 = Seq((1L, "a", Some(5L)), (2L, "a", None), (3L, "b", None))
    JoinIvm.applyDelta(spark, dir, fDf(f0), fDf(Seq.empty),
      dDf(d0), dDf(Seq.empty))
    assert(JoinIvm.readView(spark, dir).collect().toSet == model(f0, d0))
    // the overlap batch: ΔD updates BOTH a null-w tuple (2,a,NULL →
    // 2,b,NULL) and a non-null one (1,a,5 → 1,a,7) while ΔF churns
    // the same keys 1 and 2
    val f1 = f0.filterNot(x => x == ((1L, 10L)) || x == ((2L, 30L))) ++
      Seq((1L, 25L), (2L, 31L))
    val d1 = Seq((1L, "a", Some(7L)), (2L, "b", None), (3L, "b", None))
    JoinIvm.applyDelta(spark, dir,
      fDf(Seq((1L, 25L), (2L, 31L))), fDf(Seq((1L, 10L), (2L, 30L))),
      dDf(Seq((1L, "a", Some(7L)), (2L, "b", None))),
      dDf(Seq((1L, "a", Some(5L)), (2L, "a", None))))
    assert(JoinIvm.readView(spark, dir).collect().toSet == model(f1, d1),
      "pre-commit D′ derivation must handle null-valued ΔD tuples " +
        "(null-safe anti∪union) and overlapping ΔF keys")
    // the same shape through IvmOverJoin (non-invertible aggregates —
    // its stageInner shares the derivation)
    val oDir = tmp("graft_ovj_precommit")
    val oSpec = graft.operators.IvmOverJoin.Spec(Seq("k"), Seq("seg"),
      Seq(Ivm.Count("cnt"), Ivm.Min("w", "min_w"), Ivm.Max("v", "max_v")))
    graft.operators.IvmOverJoin.create(spark, oDir,
      fDf(Seq((1L, 1L))).schema, dDf(Seq((1L, "s", Some(1L)))).schema,
      oSpec, nBuckets = 4)
    def oModel(fact: Seq[(Long, Long)],
               dim: Seq[(Long, String, Option[Long])]): Set[Row] = {
      val joined = for { (k, v) <- fact; (k2, s, w) <- dim if k == k2 }
        yield (s, v, w)
      joined.groupBy(_._1).map { case (s, rs) =>
        val ws = rs.flatMap(_._3)
        Row(s, rs.size.toLong, if (ws.isEmpty) null else ws.min,
          rs.map(_._2).max)
      }.toSet
    }
    graft.operators.IvmOverJoin.applyDelta(spark, oDir, fDf(f0),
      fDf(Seq.empty), dDf(d0), dDf(Seq.empty))
    assert(graft.operators.IvmOverJoin.readView(spark, oDir)
      .collect().toSet == oModel(f0, d0))
    graft.operators.IvmOverJoin.applyDelta(spark, oDir,
      fDf(Seq((1L, 25L), (2L, 31L))), fDf(Seq((1L, 10L), (2L, 30L))),
      dDf(Seq((1L, "a", Some(7L)), (2L, "b", None))),
      dDf(Seq((1L, "a", Some(5L)), (2L, "a", None))))
    assert(graft.operators.IvmOverJoin.readView(spark, oDir)
      .collect().toSet == oModel(f1, d1),
      "ivm-over-join stageInner shares the null-safe pre-commit " +
        "derivation")
  }

  test("join-ivm + ivm-over-join: a side z-set not bucketed by the join " +
      "columns fails the stats-transfer guard and the refresh stays exact") {
    // The transfer reuses one side's touched-bucket set for the other
    // side's read; that is only sound when BOTH sides bucket by the
    // join columns (a, b). Re-create the fact z-set bucketed by `a`
    // alone (same schema, keys and nBuckets), then run a two-sided
    // batch whose ΔF joins old dim rows and whose ΔD joins old fact
    // rows: a transferred bucket set would miss them.
    def fDf(rows: Seq[(Long, Long, Long)]): DataFrame = rows.toDF("a", "b", "v")
    def dDf(rows: Seq[(Long, Long, String, Option[Long])]): DataFrame =
      rows.toDF("a", "b", "seg", "w")
    val joinCols = Seq("a", "b")
    def misBucketFact(dir: String): Unit = {
      val (fz, dz) = (s"$dir/factz", s"$dir/dimz")
      assert(JoinIvm.statsTransfer(MergeTable.readMeta(spark, fz),
        MergeTable.readMeta(spark, dz), joinCols), "create pins the transfer")
      val m = MergeTable.readMeta(spark, fz)
      graft.operators.VersionedLayout.fs(spark, fz)
        .delete(new org.apache.hadoop.fs.Path(fz), true)
      MergeTable.create(spark, fz, m.schema, m.keyCols, Seq("a"), m.nBuckets)
      assert(!JoinIvm.statsTransfer(MergeTable.readMeta(spark, fz),
        MergeTable.readMeta(spark, dz), joinCols),
        "a fact side bucketed by a alone must fail the guard")
    }
    val keys = for (a <- 1L to 4L; b <- 1L to 3L) yield (a, b)
    val f0 = keys.map { case (a, b) => (a, b, a * 100 + b * 10) }
    val d0 = keys.map { case (a, b) => (a, b, s"s${(a + b) % 3}", Option(a)) }
    val fIns = keys.map { case (a, b) => (a, b, 1000 + a * 10 + b) }
    val dOld = d0.take(4)
    val dNew = dOld.map { case (a, b, _, w) => (a, b, "t", w) }
    val f1 = f0 ++ fIns
    val d1 = dNew ++ d0.drop(4)
    def joined(fact: Seq[(Long, Long, Long)],
               dim: Seq[(Long, Long, String, Option[Long])]) =
      for { (a, b, v) <- fact; (a2, b2, s, w) <- dim if a == a2 && b == b2 }
        yield (s, v, w)

    val jDir = tmp("graft_jivm_misbucket")
    val jSpec = JoinIvm.Spec(joinCols, Seq("seg"),
      Seq(Ivm.Count("cnt"), Ivm.Sum("v", "sum_v")))
    JoinIvm.create(spark, jDir, fDf(f0).schema, dDf(d0).schema, jSpec,
      nBuckets = 16)
    misBucketFact(jDir)
    def jModel(fact: Seq[(Long, Long, Long)],
               dim: Seq[(Long, Long, String, Option[Long])]): Set[Row] =
      joined(fact, dim).groupBy(_._1).map { case (s, rs) =>
        Row(s, rs.size.toLong, rs.map(_._2).sum) }.toSet
    JoinIvm.applyDelta(spark, jDir, fDf(f0), fDf(Seq.empty), dDf(d0),
      dDf(Seq.empty))
    assert(JoinIvm.readView(spark, jDir).collect().toSet == jModel(f0, d0))
    JoinIvm.applyDelta(spark, jDir, fDf(fIns), fDf(Seq.empty), dDf(dNew),
      dDf(dOld))
    assert(JoinIvm.readView(spark, jDir).collect().toSet == jModel(f1, d1))

    val oDir = tmp("graft_ovj_misbucket")
    val oSpec = graft.operators.IvmOverJoin.Spec(joinCols, Seq("seg"),
      Seq(Ivm.Count("cnt"), Ivm.Min("w", "min_w"), Ivm.Max("v", "max_v")))
    graft.operators.IvmOverJoin.create(spark, oDir, fDf(f0).schema,
      dDf(d0).schema, oSpec, nBuckets = 16)
    misBucketFact(oDir)
    def oModel(fact: Seq[(Long, Long, Long)],
               dim: Seq[(Long, Long, String, Option[Long])]): Set[Row] =
      joined(fact, dim).groupBy(_._1).map { case (s, rs) =>
        Row(s, rs.size.toLong, rs.flatMap(_._3).min, rs.map(_._2).max)
      }.toSet
    graft.operators.IvmOverJoin.applyDelta(spark, oDir, fDf(f0),
      fDf(Seq.empty), dDf(d0), dDf(Seq.empty))
    assert(graft.operators.IvmOverJoin.readView(spark, oDir)
      .collect().toSet == oModel(f0, d0))
    graft.operators.IvmOverJoin.applyDelta(spark, oDir, fDf(fIns),
      fDf(Seq.empty), dDf(dNew), dDf(dOld))
    assert(graft.operators.IvmOverJoin.readView(spark, oDir)
      .collect().toSet == oModel(f1, d1))
  }

  /** Two-sided CDC events frame for the join-view stream wrapper. */
  private def jev(fIns: Seq[(Long, Long)], fDel: Seq[(Long, Long)],
                  dIns: Seq[(Long, String)], dDel: Seq[(Long, String)])
      : DataFrame = {
    val rows =
      fIns.map(r => (r._1, Option(r._2), Option.empty[String], "insert", "fact")) ++
      fDel.map(r => (r._1, Option(r._2), Option.empty[String], "delete", "fact")) ++
      dIns.map(r => (r._1, Option.empty[Long], Option(r._2), "insert", "dim")) ++
      dDel.map(r => (r._1, Option.empty[Long], Option(r._2), "delete", "dim"))
    rows.toDF("k", "v", "seg", "op", "side")
  }

  test("join-view stream wrapper: per-batch two-sided commits, redelivery re-emits identically, INFLIGHT window resumes") {
    val dir = tmp("graft_jivm_stream")
    val clean = tmp("graft_jivm_stream_clean")
    Seq(dir, clean).foreach(d => JoinIvm.create(spark, d,
      factDf(Seq((1L, 1L))).schema, dimDf(Seq((1L, "s"))).schema, jspec,
      nBuckets = 4))
    var emitted = Map[(String, Long), Set[Row]]()
    def drive(d: String, b: DataFrame, id: Long): Unit =
      graft.streaming.Streams.cdcJoinViewBatch(b, id, "op", "side", d, 2) {
        (rows, bid) => emitted += (d, bid) -> rows.collect().toSet
      }
    val f0 = Seq((1L, 10L), (1L, 20L), (2L, 30L), (3L, 40L))
    val d0 = Seq((1L, "s0"), (2L, "s0"), (3L, "s1"))
    val b0 = jev(f0, Seq.empty, d0, Seq.empty)
    // batch 1: dim UPDATE (key 1 → s1) + fact churn, two-sided
    val b1 = jev(Seq((2L, 31L)), Seq((2L, 30L)), Seq((1L, "s1")),
      Seq((1L, "s0")))
    val f1 = f0.filterNot(_ == ((2L, 30L))) :+ ((2L, 31L))
    val d1 = d0.filterNot(_ == ((1L, "s0"))) :+ ((1L, "s1"))
    drive(dir, b0, 0L)
    assert(JoinIvm.latestVersions(spark, dir) == ((2, 2)),
      "each batch advances BOTH side z-sets by exactly one")
    drive(dir, b1, 1L)
    assert(JoinIvm.latestVersions(spark, dir) == ((3, 3)))
    val view1 = JoinIvm.readView(spark, dir).collect().toSet
    assert(view1 == jModel(f1, d1))
    val e1 = emitted((dir, 1L))
    // REDELIVERY of batch 1: no double-apply, identical emit
    drive(dir, b1, 1L)
    assert(JoinIvm.latestVersions(spark, dir) == ((3, 3)))
    assert(JoinIvm.readView(spark, dir).collect().toSet == view1)
    assert(emitted((dir, 1L)) == e1)
    // crash between the dim and view commits: VIEWSYNC rolled back —
    // the replay path self-heals (rebuildView) and re-emits identically
    graft.operators.VersionedLayout.atomicWrite(
      graft.operators.VersionedLayout.fs(spark, dir),
      new org.apache.hadoop.fs.Path(dir, "VIEWSYNC"), "2 2")
    drive(dir, b1, 1L)
    assert(!JoinIvm.viewStale(spark, dir))
    assert(JoinIvm.readView(spark, dir).collect().toSet == view1)
    assert(emitted((dir, 1L)) == e1)
    // the three-commit INFLIGHT window: batch 2 "crashes" after the
    // FACT fold, before the dim fold — construct the torn state by
    // hand (fold the fact delta exactly as applyDelta does + leave the
    // INFLIGHT marker), then redeliver the batch
    val b2fIns = Seq((4L, 50L)); val b2fDel = Seq((1L, 10L))
    val b2dIns = Seq((4L, "s1")); val b2dDel = Seq.empty[(Long, String)]
    val b2 = jev(b2fIns, b2fDel, b2dIns, b2dDel)
    val f2 = (f1 diff b2fDel) ++ b2fIns
    val d2 = d1 ++ b2dIns
    val dF2 = factDf(b2fIns).withColumn("__d", lit(1L))
      .unionByName(factDf(b2fDel).withColumn("__d", lit(-1L)))
      .groupBy("k", "v").agg(sum($"__d").as("__d"))
    MergeTable.mergeCompute(spark, s"$dir/factz", dF2) { old =>
      old.select($"k", $"v", $"__mult")
        .unionByName(dF2.withColumnRenamed("__d", "__mult"))
        .groupBy("k", "v").agg(sum($"__mult").as("__mult"))
        .filter($"__mult" =!= 0)
    }
    graft.operators.VersionedLayout.atomicWrite(
      graft.operators.VersionedLayout.fs(spark, dir),
      new org.apache.hadoop.fs.Path(dir, "INFLIGHT"), "3 3")
    assert(JoinIvm.latestVersions(spark, dir) == ((4, 3)))
    drive(dir, b2, 2L)
    // the resumed batch consumed exactly one version per side
    assert(JoinIvm.latestVersions(spark, dir) == ((4, 4)))
    assert(!JoinIvm.inflight(spark, dir) && !JoinIvm.viewStale(spark, dir))
    assert(JoinIvm.readView(spark, dir).collect().toSet == jModel(f2, d2))
    // the crashed-and-resumed run is indistinguishable from a clean
    // one: same view, same per-batch emissions
    drive(clean, b0, 0L); drive(clean, b1, 1L); drive(clean, b2, 2L)
    assert(JoinIvm.readView(spark, clean).collect().toSet ==
      JoinIvm.readView(spark, dir).collect().toSet)
    assert(emitted((clean, 2L)) == emitted((dir, 2L)))
    // a fresh batch continues normally after the recovery
    drive(dir, jev(Seq((5L, 60L)), Seq.empty, Seq((5L, "s0")), Seq.empty), 3L)
    assert(JoinIvm.readView(spark, dir).collect().toSet ==
      jModel(f2 :+ ((5L, 60L)), d2 :+ ((5L, "s0"))))
    // op/side values outside the contract fail loudly, nothing applied
    val vBefore = JoinIvm.latestVersions(spark, dir)
    val eBad = intercept[IllegalArgumentException] {
      drive(dir, jev(Seq((9L, 9L)), Seq.empty, Seq.empty, Seq.empty)
        .withColumn("op", lit("upsert")), 4L)
    }
    assert(eBad.getMessage.contains("two-sided"))
    assert(JoinIvm.latestVersions(spark, dir) == vBefore)
    // checkpoint/state divergence fails fast
    val eDiv = intercept[IllegalStateException] {
      drive(dir, jev(Seq((9L, 9L)), Seq.empty, Seq.empty, Seq.empty), 99L)
    }
    assert(eDiv.getMessage.contains("disagree"))
  }

  test("join-ivm random two-sided walk: view == from-scratch join recompute after every commit") {
    val dir = tmp("graft_jivm_model")
    JoinIvm.create(spark, dir, factDf(Seq((1L, 1L))).schema,
      dimDf(Seq((1L, "s"))).schema, jspec, nBuckets = 4)
    val rnd = new scala.util.Random(13)
    val segs = Array("s0", "s1", "s2")
    var fact = Vector[(Long, Long)]()
    var dim = Vector[(Long, String)]()
    (1 to 8).foreach { step =>
      val fIns = (0 until rnd.nextInt(4)).map(_ =>
        (rnd.nextInt(6).toLong, rnd.nextInt(4).toLong))
      val fDel = rnd.shuffle(fact).take(rnd.nextInt(2))
      val dIns = (0 until rnd.nextInt(3)).map(_ =>
        (rnd.nextInt(6).toLong, segs(rnd.nextInt(segs.length))))
      val dDel = rnd.shuffle(dim).take(rnd.nextInt(2))
      JoinIvm.applyDelta(spark, dir, factDf(fIns), factDf(fDel),
        dimDf(dIns), dimDf(dDel))
      fact = (fact diff fDel) ++ fIns
      dim = (dim diff dDel) ++ dIns
      val got = JoinIvm.readView(spark, dir).collect().toSet
      assert(got == jModel(fact, dim),
        s"step $step:\n got  $got\n want ${jModel(fact, dim)}")
    }
    JoinIvm.rebuildView(spark, dir)
    assert(JoinIvm.readView(spark, dir).collect().toSet ==
      jModel(fact, dim))
    JoinIvm.gc(spark, dir, retainLast = 1)
    assert(JoinIvm.readView(spark, dir).collect().toSet ==
      jModel(fact, dim))
  }

  // ---- IvmOverJoin (min/max/count-distinct over a maintained join) ----

  private val ojspec = graft.operators.IvmOverJoin.Spec(Seq("k"), Seq("seg"),
    Seq(Ivm.Count("cnt"), Ivm.Min("v", "min_v"), Ivm.Max("v", "max_v"),
      Ivm.CountDistinct("v", "n_vals"), Ivm.Sum("v", "sum_v")))

  /** From-scratch full-agg join model. */
  private def ojModel(fact: Seq[(Long, Long)],
                      dim: Seq[(Long, String)]): Set[Row] = {
    val joined = for {(k, v) <- fact; (k2, s) <- dim if k == k2} yield (s, v)
    joined.groupBy(_._1).map { case (s, rs) =>
      val vs = rs.map(_._2)
      Row(s, rs.size.toLong, vs.min, vs.max, vs.distinct.size.toLong, vs.sum)
    }.toSet
  }

  test("ivm-over-join: min/max/count-distinct stay exact when the extremes retract; crash repair resumes") {
    import graft.operators.IvmOverJoin
    val dir = tmp("graft_ivmoj")
    IvmOverJoin.create(spark, dir, factDf(Seq((1L, 1L))).schema,
      dimDf(Seq((1L, "s"))).schema, ojspec, nBuckets = 4)
    val f0 = Seq((1L, 10L), (1L, 20L), (2L, 30L), (3L, 5L), (3L, 40L))
    val d0 = Seq((1L, "s0"), (2L, "s0"), (3L, "s1"))
    IvmOverJoin.applyDelta(spark, dir, factDf(f0), factDf(Seq.empty),
      dimDf(d0), dimDf(Seq.empty))
    assert(IvmOverJoin.readView(spark, dir).collect().toSet ==
      ojModel(f0, d0))
    // retract s1's CURRENT MINIMUM (3, 5): min must climb to 40 — the
    // case no invertible fold can answer; the joined z-set can
    val f1 = f0.filterNot(_ == ((3L, 5L)))
    IvmOverJoin.applyDelta(spark, dir, factDf(Seq.empty),
      factDf(Seq((3L, 5L))), dimDf(Seq.empty), dimDf(Seq.empty))
    val got1 = IvmOverJoin.readView(spark, dir).collect().toSet
    assert(got1 == ojModel(f1, d0))
    assert(got1.find(_.getString(0) == "s1").get.getLong(2) == 40L)
    // dim reassignment (key 1 → s1) + fact churn two-sided: every
    // joined row of key 1 moves groups, extremes recompute in both
    val f2 = f1 :+ ((2L, 3L))
    val d2 = d0.filterNot(_ == ((1L, "s0"))) :+ ((1L, "s1"))
    IvmOverJoin.applyDelta(spark, dir,
      factDf(Seq((2L, 3L))), factDf(Seq.empty),
      dimDf(Seq((1L, "s1"))), dimDf(Seq((1L, "s0"))))
    assert(IvmOverJoin.readView(spark, dir).collect().toSet ==
      ojModel(f2, d2))
    // duplicate values collapse in the z-set but count correctly
    // (multiplicity 2), and count-distinct sees one
    val f3 = f2 :+ ((2L, 3L))
    IvmOverJoin.applyDelta(spark, dir, factDf(Seq((2L, 3L))),
      factDf(Seq.empty), dimDf(Seq.empty), dimDf(Seq.empty))
    assert(IvmOverJoin.readView(spark, dir).collect().toSet ==
      ojModel(f3, d2))
    // inconsistent batch: clean abort, nothing committed, no INFLIGHT
    val vBefore = IvmOverJoin.latestVersions(spark, dir)
    intercept[IllegalArgumentException] {
      IvmOverJoin.applyDelta(spark, dir, factDf(Seq.empty),
        factDf(Seq((9L, 999L))), dimDf(Seq.empty), dimDf(Seq.empty))
    }
    assert(IvmOverJoin.latestVersions(spark, dir) == vBefore)
    assert(!new java.io.File(s"$dir/INFLIGHT").exists)
    // the INFLIGHT window: a crash after the fact fold — construct the
    // torn state (fact folded by hand + marker), then rebuild and
    // re-submit only the dim side (per the documented recovery)
    val b4fIns = Seq((4L, 50L))
    val b4dIns = Seq((4L, "s0"))
    val dF4 = factDf(b4fIns).withColumn("__d", lit(1L))
      .groupBy("k", "v").agg(sum($"__d").as("__d"))
    MergeTable.mergeCompute(spark, s"$dir/factz", dF4) { old =>
      old.select($"k", $"v", $"__mult")
        .unionByName(dF4.withColumnRenamed("__d", "__mult"))
        .groupBy("k", "v").agg(sum($"__mult").as("__mult"))
        .filter($"__mult" =!= 0)
    }
    graft.operators.VersionedLayout.atomicWrite(
      graft.operators.VersionedLayout.fs(spark, dir),
      new org.apache.hadoop.fs.Path(dir, "INFLIGHT"), "x")
    val e = intercept[IllegalArgumentException] {
      IvmOverJoin.applyDelta(spark, dir, factDf(Seq.empty),
        factDf(Seq.empty), dimDf(Seq.empty), dimDf(Seq.empty))
    }
    assert(e.getMessage.contains("interrupted refresh"))
    IvmOverJoin.rebuild(spark, dir)
    // fact landed → fact frames EMPTY on the re-submit; dim did not
    IvmOverJoin.applyDelta(spark, dir, factDf(Seq.empty),
      factDf(Seq.empty), dimDf(b4dIns), dimDf(Seq.empty))
    val f4 = f3 ++ b4fIns
    val d4 = d2 ++ b4dIns
    assert(IvmOverJoin.readView(spark, dir).collect().toSet ==
      ojModel(f4, d4))
    // rebuild is idempotent and gc keeps the view readable
    IvmOverJoin.rebuild(spark, dir)
    assert(IvmOverJoin.readView(spark, dir).collect().toSet ==
      ojModel(f4, d4))
    IvmOverJoin.gc(spark, dir, retainLast = 1)
    assert(IvmOverJoin.readView(spark, dir).collect().toSet ==
      ojModel(f4, d4))
  }

  test("full-join stream wrapper: NULL op/side values fail loudly (null-safe validation), nothing applied") {
    import graft.operators.IvmOverJoin
    val dir = tmp("graft_ovj_nullop")
    IvmOverJoin.create(spark, dir, factDf(Seq((1L, 1L))).schema,
      dimDf(Seq((1L, "s"))).schema, ojspec, nBuckets = 4)
    val bad = jev(Seq((1L, 10L)), Seq.empty, Seq((1L, "s0")), Seq.empty)
      .withColumn("side",
        when(col("side") === "dim", lit(null).cast("string"))
          .otherwise(col("side")))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.cdcFullJoinViewBatch(bad, 0L, "op", "side",
        dir, 2) { (_, _) => fail("must not emit") }
    }
    assert(e.getMessage.contains("side"))
    assert(IvmOverJoin.latestVersions(spark, dir) == ((1, 1, 1)))
    assert(IvmOverJoin.readView(spark, dir).count() == 0)
  }

  test("full-join-view stream wrapper (7th family): redelivery re-emits identically; tail, joined-delta and one-sided crash states self-heal") {
    import graft.operators.IvmOverJoin
    val dir = tmp("graft_ovj_stream")
    val clean = tmp("graft_ovj_stream_clean")
    Seq(dir, clean).foreach(d => IvmOverJoin.create(spark, d,
      factDf(Seq((1L, 1L))).schema, dimDf(Seq((1L, "s"))).schema, ojspec,
      nBuckets = 4))
    var emitted = Map[(String, Long), Set[Row]]()
    def drive(d: String, b: DataFrame, id: Long): Unit =
      graft.streaming.Streams.cdcFullJoinViewBatch(b, id, "op", "side",
        d, 2) { (rows, bid) => emitted += (d, bid) -> rows.collect().toSet }
    val f0 = Seq((1L, 10L), (1L, 20L), (2L, 30L), (3L, 5L), (3L, 40L))
    val d0 = Seq((1L, "s0"), (2L, "s0"), (3L, "s1"))
    val b0 = jev(f0, Seq.empty, d0, Seq.empty)
    // batch 1: retract s1's MINIMUM + dim reassignment — the
    // non-invertible recompute, streamed
    val b1 = jev(Seq((2L, 31L)), Seq((3L, 5L)), Seq((1L, "s1")),
      Seq((1L, "s0")))
    val f1 = f0.filterNot(_ == ((3L, 5L))) :+ ((2L, 31L))
    val d1 = d0.filterNot(_ == ((1L, "s0"))) :+ ((1L, "s1"))
    drive(dir, b0, 0L)
    val (fvA, dvA, _) = IvmOverJoin.latestVersions(spark, dir)
    assert((fvA, dvA) == ((2, 2)),
      "each batch advances BOTH side z-sets by exactly one")
    drive(dir, b1, 1L)
    val (fv1, dv1, zv1) = IvmOverJoin.latestVersions(spark, dir)
    assert((fv1, dv1) == ((3, 3)))
    val view1 = IvmOverJoin.readView(spark, dir).collect().toSet
    assert(view1 == ojModel(f1, d1))
    assert(view1.find(_.getString(0) == "s1").get.getLong(2) == 10L,
      "s1's min recovered after the minimum (3,5) retracted and key 1 " +
        "moved in with {10,20}")
    val e1 = emitted((dir, 1L))
    // plain redelivery: no double-apply, identical emit
    drive(dir, b1, 1L)
    assert(IvmOverJoin.latestVersions(spark, dir)._1 == 3)
    assert(emitted((dir, 1L)) == e1)
    // tail crash A: between the inner Ivm's two commits — inner view
    // stale + outer SYNC/INFLIGHT behind; the replay heals + re-emits
    val fsy = graft.operators.VersionedLayout.fs(spark, dir)
    graft.operators.VersionedLayout.atomicWrite(fsy,
      new org.apache.hadoop.fs.Path(s"$dir/ivm", "VIEWSYNC"),
      (zv1 - 1).toString)
    graft.operators.VersionedLayout.atomicWrite(fsy,
      new org.apache.hadoop.fs.Path(dir, "SYNC"), s"2 2 ${zv1 - 1}")
    graft.operators.VersionedLayout.atomicWrite(fsy,
      new org.apache.hadoop.fs.Path(dir, "INFLIGHT"), s"2 2 ${zv1 - 1}")
    drive(dir, b1, 1L)
    assert(!IvmOverJoin.inflight(spark, dir) &&
      !IvmOverJoin.viewStale(spark, dir))
    assert(IvmOverJoin.readView(spark, dir).collect().toSet == view1)
    assert(emitted((dir, 1L)) == e1)
    // crash B: both side folds committed, the JOINED delta never
    // landed (INFLIGHT records the inner pre-version still current) —
    // replay detects it and rebuilds π(G, V) from the sides
    val b2fIns = Seq((4L, 50L)); val b2dIns = Seq((4L, "s1"))
    val b2 = jev(b2fIns, Seq.empty, b2dIns, Seq.empty)
    val f2 = f1 ++ b2fIns
    val d2 = d1 ++ b2dIns
    def foldFactByHand(ins: Seq[(Long, Long)]): Unit = {
      val dF = factDf(ins).withColumn("__d", lit(1L))
        .groupBy("k", "v").agg(sum($"__d").as("__d"))
      MergeTable.mergeCompute(spark, s"$dir/factz", dF) { old =>
        old.select($"k", $"v", $"__mult")
          .unionByName(dF.withColumnRenamed("__d", "__mult"))
          .groupBy("k", "v").agg(sum($"__mult").as("__mult"))
          .filter($"__mult" =!= 0)
      }
    }
    def foldDimByHand(ins: Seq[(Long, String)]): Unit = {
      val dD = dimDf(ins).withColumn("__d", lit(1L))
        .groupBy("k", "seg").agg(sum($"__d").as("__d"))
      MergeTable.mergeCompute(spark, s"$dir/dimz", dD) { old =>
        old.select($"k", $"seg", $"__mult")
          .unionByName(dD.withColumnRenamed("__d", "__mult"))
          .groupBy("k", "seg").agg(sum($"__mult").as("__mult"))
          .filter($"__mult" =!= 0)
      }
    }
    foldFactByHand(b2fIns)
    foldDimByHand(b2dIns)
    val zvB = IvmOverJoin.latestVersions(spark, dir)._3
    graft.operators.VersionedLayout.atomicWrite(fsy,
      new org.apache.hadoop.fs.Path(dir, "INFLIGHT"), s"3 3 $zvB")
    drive(dir, b2, 2L)
    val (fv2, dv2, _) = IvmOverJoin.latestVersions(spark, dir)
    assert((fv2, dv2) == ((4, 4)))
    assert(!IvmOverJoin.inflight(spark, dir) &&
      !IvmOverJoin.viewStale(spark, dir))
    assert(IvmOverJoin.readView(spark, dir).collect().toSet ==
      ojModel(f2, d2))
    // crash C: ONE side landed (the folds commit concurrently — here
    // the DIM side) — replay rebuilds, then resumes folding only the
    // missing fact side; still one version per side
    val b3fIns = Seq((5L, 60L)); val b3dIns = Seq((5L, "s0"))
    val b3 = jev(b3fIns, Seq.empty, b3dIns, Seq.empty)
    val f3 = f2 ++ b3fIns
    val d3 = d2 ++ b3dIns
    foldDimByHand(b3dIns)
    graft.operators.VersionedLayout.atomicWrite(fsy,
      new org.apache.hadoop.fs.Path(dir, "INFLIGHT"),
      s"4 4 ${IvmOverJoin.latestVersions(spark, dir)._3}")
    drive(dir, b3, 3L)
    assert(IvmOverJoin.latestVersions(spark, dir)._1 == 5)
    assert(IvmOverJoin.latestVersions(spark, dir)._2 == 5)
    assert(IvmOverJoin.readView(spark, dir).collect().toSet ==
      ojModel(f3, d3))
    // a crashed-and-healed run is indistinguishable from a clean one
    drive(clean, b0, 0L); drive(clean, b1, 1L)
    drive(clean, b2, 2L); drive(clean, b3, 3L)
    assert(IvmOverJoin.readView(spark, clean).collect().toSet ==
      IvmOverJoin.readView(spark, dir).collect().toSet)
    assert(emitted((clean, 1L)) == emitted((dir, 1L)))
    assert(emitted((clean, 2L)) == emitted((dir, 2L)))
    assert(emitted((clean, 3L)) == emitted((dir, 3L)))
    // contract violations fail loudly; divergence fails fast
    val vBefore = IvmOverJoin.latestVersions(spark, dir)
    val eBad = intercept[IllegalArgumentException] {
      drive(dir, jev(Seq((9L, 9L)), Seq.empty, Seq.empty, Seq.empty)
        .withColumn("op", lit("upsert")), 4L)
    }
    assert(eBad.getMessage.contains("two-sided"))
    assert(IvmOverJoin.latestVersions(spark, dir) == vBefore)
    val eDiv = intercept[IllegalStateException] {
      drive(dir, jev(Seq((9L, 9L)), Seq.empty, Seq.empty, Seq.empty), 99L)
    }
    assert(eDiv.getMessage.contains("disagree"))
  }

  test("ivm-over-join random two-sided walk: full-agg view == from-scratch recompute after every commit") {
    import graft.operators.IvmOverJoin
    val dir = tmp("graft_ivmoj_model")
    IvmOverJoin.create(spark, dir, factDf(Seq((1L, 1L))).schema,
      dimDf(Seq((1L, "s"))).schema, ojspec, nBuckets = 4)
    val rnd = new scala.util.Random(29)
    val segs = Array("s0", "s1", "s2")
    var fact = Vector[(Long, Long)]()
    var dim = Vector[(Long, String)]()
    (1 to 8).foreach { step =>
      val fIns = (0 until rnd.nextInt(4)).map(_ =>
        (rnd.nextInt(6).toLong, rnd.nextInt(4).toLong))
      val fDel = rnd.shuffle(fact).take(rnd.nextInt(2))
      val dIns = (0 until rnd.nextInt(3)).map(_ =>
        (rnd.nextInt(6).toLong, segs(rnd.nextInt(segs.length))))
      val dDel = rnd.shuffle(dim).take(rnd.nextInt(2))
      IvmOverJoin.applyDelta(spark, dir, factDf(fIns), factDf(fDel),
        dimDf(dIns), dimDf(dDel))
      fact = (fact diff fDel) ++ fIns
      dim = (dim diff dDel) ++ dIns
      val got = IvmOverJoin.readView(spark, dir).collect().toSet
      assert(got == ojModel(fact, dim),
        s"step $step:\n got  $got\n want ${ojModel(fact, dim)}")
    }
  }

  test("ivm random CDC walk: maintained view == from-scratch recompute after every commit") {
    val dir = tmp("graft_ivm_model")
    Ivm.create(spark, dir, baseDf(Seq((1L, "a", 1L, "t"))).schema, specG,
      nBuckets = 8)
    val rnd = new scala.util.Random(11)
    val groups = Array("g0", "g1", "g2", "g3")
    val tags = Array("ta", "tb", "tc")
    val model = scala.collection.mutable.Map[Long, (Long, String, Long, String)]()
    var nextK = 0L
    (1 to 10).foreach { step =>
      // inserts: fresh keys; duplicates of existing (g, v, tag) tuples
      // happen naturally (small domains) so multiplicities > 1 occur
      val ins = (0 until rnd.nextInt(6)).map { _ =>
        val r = (nextK, groups(rnd.nextInt(groups.length)),
          rnd.nextInt(5).toLong, tags(rnd.nextInt(tags.length)))
        nextK += 1; r
      }
      // deletes: random live keys, BEFORE-IMAGES from the model
      val dels = rnd.shuffle(model.keys.toList)
        .take(rnd.nextInt(3)).map(model(_))
      // updates: delete(old) + insert(new) in the same batch
      val upd = rnd.shuffle((model.keys.toSet -- dels.map(_._1)).toList)
        .take(rnd.nextInt(2)).map { k =>
          val old = model(k)
          (old, (k, old._2, old._3 + 100, tags(rnd.nextInt(tags.length))))
        }
      val insAll = ins ++ upd.map(_._2)
      val delAll = dels ++ upd.map(_._1)
      Ivm.applyDelta(spark, dir, baseDf(insAll), baseDf(delAll))
      delAll.foreach(r => model.remove(r._1))
      insAll.foreach(r => model(r._1) = r)
      val got = Ivm.readView(spark, dir).collect().toSet
      assert(got == modelView(model.values),
        s"step $step:\n got  $got\n want ${modelView(model.values)}")
      // z-set invariant: multiplicities are the model's (g,v,tag)
      // row counts, every row positive
      val zGot = Ivm.readZset(spark, dir)
        .select("g", "v", "tag", "__mult")
        .as[(String, Long, String, Long)].collect().toSet
      val zWant = model.values.groupBy(r => (r._2, r._3, r._4))
        .map { case ((g, v, t), rs) => (g, v, t, rs.size.toLong) }.toSet
      assert(zGot == zWant, s"step $step zset:\n got  $zGot\n want $zWant")
    }
    // end-to-end repair path stays consistent with the walk's state
    Ivm.rebuildView(spark, dir)
    assert(Ivm.readView(spark, dir).collect().toSet == modelView(model.values))
    Ivm.gc(spark, dir, retainLast = 1)
    assert(Ivm.readView(spark, dir).collect().toSet == modelView(model.values))
  }
}
