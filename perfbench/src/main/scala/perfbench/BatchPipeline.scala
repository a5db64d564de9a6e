package perfbench

import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry

/** Closed loop, one client: repeated passes over ten oracled batch
  * queries in a seeded order, the cache cleared before each query.
  * Scans, planning, expression kernels and shuffle do the work; no
  * persisted state is touched. The warm-up fixes each query's result
  * hash, which every timed execution must reproduce; its rows are written
  * as parquet after the run for the DuckDB oracle check. */
final class BatchPipeline(ctx: Ctx) extends Workload {
  import ctx._

  private val names = Seq("q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier", "q18_large_volume", "op_cogroup", "op_reduce",
    "op_flatmap", "dedup_minhash", "text_seg_dedup", "q_bm25_topk")
  private val queries = names.map(n => n -> SparkEntry.queries(n))
  private val order = rng(1)
  private val hashes = scala.collection.mutable.HashMap.empty[String, String]
  private val firstResults = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

  private def hash(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def pass(): Unit = rec.span("batch.pass") {
    for ((name, q) <- order.shuffle(queries)) {
      spark.catalog.clearCache()
      val df = q(spark, data)
      rec.op(s"q.$name")(rec.span(s"q.$name") {
        if (rec.traced) rec.span("batch.plan")(df.queryExecution.executedPlan)
        df.collect()
      })(rows => hashes.get(name).contains(hash(rows)))
    }
    // the pass's last query may have left data cached
    spark.catalog.clearCache()
  }

  /** The warm-up runs each query once. The queries are independent, so
    * they run side by side to shorten setup; their results fix the hashes
    * every timed execution must reproduce. */
  def setup(): Unit = {
    for (n <- names; sql <- SparkEntry.oracleSql.get(n)) rec.notes(s"oracle.$n") = sql
    val first = Parallel(queries.map { case (name, q) => () =>
      val df = q(spark, data)
      (name, df.schema, df.collect())
    }: _*)
    for ((name, schema, rows) <- first) {
      hashes(name) = hash(rows)
      firstResults(name) = spark.createDataFrame(rows.toSeq.asJava, schema)
    }
    spark.catalog.clearCache()
  }

  def run(deadlineMs: Double): Unit =
    do rec.cycle(pass()) while (Clock.nowMs < deadlineMs)

  /** Write each query's first result for the DuckDB oracle check. */
  def finish(): Unit = Parallel(firstResults.toSeq.map { case (name, df) =>
    () => df.coalesce(1).write.parquet(s"$work/results/$name")
  }: _*)
}
