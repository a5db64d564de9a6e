package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MergeTable

/** r15 punch item: put the candidate-pushdown read into its EFFECTIVE
  * regime and measure it (r14 measured 74% of rows still read at the
  * 500k stress geometry and derived the production ~99% skip from the
  * page-range law `kept ≈ min(1, nCandidates × pageRows / bucketRows)`
  * — this tool replaces the derivation with a number).
  *
  * Geometry: a synthetic (deterministic, spark.range-generated — no
  * corpus dependency) MergeTable of `rows` keyed longs in `nBuckets`
  * buckets, written through the REAL write path (key-sorted buckets)
  * with `parquet.page.row.count.limit` pages, probed through the REAL
  * read path ([[MergeTable.readBucketsAt]]) with `nCand` scattered
  * candidates. With rows=8M / 1 bucket / 1000-row pages / 512
  * candidates the law predicts kept ≈ 512×1000/8M = 0.064 — the same
  * dimensionless ratio as the production point (512 cands × 20k-row
  * pages / 1e9-row buckets ≈ 0.01), reached with local disk.
  *
  * Usage: Test/runMain graft.ProfilePruneRegime [rows] [nBuckets]
  *   [pageRows] [nCand]
  */
object ProfilePruneRegime {
  def main(args: Array[String]): Unit = {
    val rows = args.lift(0).map(_.toLong).getOrElse(8000000L)
    val nBuckets = args.lift(1).map(_.toInt).getOrElse(1)
    val pageRows = args.lift(2).map(_.toInt).getOrElse(1000)
    val nCand = args.lift(3).map(_.toInt).getOrElse(512)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "512")
      // write-path page geometry (hadoop conf drives the parquet writer)
      .config("spark.hadoop.parquet.page.row.count.limit",
        pageRows.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // source-read accounting: executor input metrics summed per block
    val recIn = new java.util.concurrent.atomic.AtomicLong
    val bytesIn = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            recIn.addAndGet(m.inputMetrics.recordsRead)
            bytesIn.addAndGet(m.inputMetrics.bytesRead)
          }
        }
      })
    // returns (records_in, bytes_in) of the block; listener events are
    // async — settle sleeps bound attribution error (StressBench's
    // readCounted discipline)
    def counted(tag: String)(f: => Unit): (Long, Long) = {
      Thread.sleep(400)
      val r0 = recIn.get; val b0 = bytesIn.get; val t0 = System.nanoTime()
      f
      Thread.sleep(400)
      val d = (recIn.get - r0, bytesIn.get - b0)
      println(f"$tag%-22s records_in=${d._1}%10d  " +
        f"bytes_in=${d._2 / 1048576.0}%8.1fMB  " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2fs")
      d
    }

    val dir = java.nio.file.Files
      .createTempDirectory("graft_prune_regime").toString + "/tbl"
    // deterministic scattered keyspace: id × 1000003 — keys are
    // unique, with uniform gaps of 1000003, and stay within Long range
    // under ANSI mode (no multiplication overflows at these row counts)
    val base = spark.range(rows)
      .select((col("id") * lit(1000003L))
        .as("k"), (col("id") % 1000).as("v"))
    counted("build") {
      MergeTable.build(spark, dir, base, keyCols = Seq("k"),
        bucketCols = Seq("k"), nBuckets = nBuckets)
    }
    val v = MergeTable.latestVersion(spark, dir)
    // nCand scattered candidates: every (rows/nCand)-th generated key —
    // uniformly spread over the keyspace like a scattered CDC batch
    val step = rows / nCand
    val cands: Seq[Any] = (0L until nCand.toLong)
      .map(i => i * step * 1000003L)
    val touched = (0 until nBuckets).toSet
    val pageKept = math.min(1.0, nCand.toDouble * pageRows /
      (rows.toDouble / nBuckets))
    println(f"[regime] rows=$rows nBuckets=$nBuckets pageRows=$pageRows " +
      f"nCand=$nCand  law-predicted kept=$pageKept%.3f")

    // noop sink (guide §1.4): computes EVERY column of every row, so
    // records_in/bytes_in compare like for like (count() would let the
    // unfiltered read prune all columns)
    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // 1) whole-bucket read (the pre-r14 staging read)
    val (wholeRec, wholeBytes) = counted("whole_read") {
      force(MergeTable.readBucketsAt(spark, dir, v, touched, None))
    }
    // 2) candidate-pushdown read (the r14 staging read in DELTA/FOLD
    //    commit shapes) — same API, prune engaged
    val (prunedRec, prunedBytes) = counted("pruned_read") {
      force(MergeTable.readBucketsAt(spark, dir, v, touched, Some(cands)))
    }
    // exactness: pruned read + the exact key mask every consumer
    // applies == the candidate rows, and equals the whole read's
    // restriction to the same keys
    import spark.implicits._
    val keysDf = cands.map(_.asInstanceOf[Long]).toDF("k")
    val exactPruned = MergeTable.readBucketsAt(spark, dir, v, touched,
      Some(cands)).join(broadcast(keysDf), Seq("k"), "left_semi")
    val exactWhole = MergeTable.readBucketsAt(spark, dir, v, touched, None)
      .join(broadcast(keysDf), Seq("k"), "left_semi")
    val same = exactPruned.exceptAll(exactWhole).isEmpty &&
      exactWhole.exceptAll(exactPruned).isEmpty &&
      exactPruned.count() == nCand
    println(f"[regime] records_in whole=$wholeRec pruned=$prunedRec " +
      f"reduction=${wholeRec.toDouble / math.max(1, prunedRec)}%.1fx  " +
      f"bytes reduction=${wholeBytes.toDouble / math.max(1, prunedBytes)}%.1fx  " +
      s"exact=$same")
    spark.stop()
  }
}
