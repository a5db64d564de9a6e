package graft

import graft.sources.Bucketing
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Co-located joins over bucketed tables: correctness + the plan
  * contract that makes bucketing worth it (no Exchange at all). */
class BucketingSpec extends AnyFunSuite with BeforeAndAfterAll {
  // In a shared test JVM getOrCreate may return another suite's session
  // (static configs like warehouse.dir then don't apply) — use only
  // RUNTIME SQL configs and clean table locations explicitly.
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    // disable auto-broadcast so the test proves bucket co-location,
    // not broadcast, removes the shuffle (runtime config — applies
    // even on a reused session); afterAll restores it for later suites
    savedBroadcast = Some(s.conf.getOption(Broadcast))
    s.conf.set(Broadcast, "-1")
    s
  }

  private val Broadcast = "spark.sql.autoBroadcastJoinThreshold"
  private var savedBroadcast: Option[Option[String]] = None

  override def afterAll(): Unit =
    try savedBroadcast.foreach {
      case Some(v) => spark.conf.set(Broadcast, v)
      case None => spark.conf.unset(Broadcast)
    } finally super.afterAll()

  val sf = "/root/testdata/sf0.001"

  /** Drop catalog entry AND its managed location (a stale directory
    * from a previous JVM blocks CREATE TABLE). */
  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val p = java.nio.file.Paths.get(wh, name)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
  }

  test("join of two bucketed tables has zero Exchange") {
    dropTable("li_bucketed")
    dropTable("ord_bucketed")
    Bucketing.writeBucketed(
      Tables.load(spark, sf, "lineitem")
        .select(col("l_orderkey").as("orderkey"), col("l_quantity")),
      "li_bucketed", 8, Seq("orderkey"))
    Bucketing.writeBucketed(
      Tables.load(spark, sf, "orders")
        .select(col("o_orderkey").as("orderkey"), col("o_totalprice")),
      "ord_bucketed", 8, Seq("orderkey"))

    val joined = Bucketing.bucketedJoin(spark, "li_bucketed", "ord_bucketed",
      Seq("orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    // A per-task Sort remains: since Spark 3 bucketed scans don't report
    // sorted output by default (spark.sql.legacy.bucketedTableScan.
    // outputOrdering), and sorting an already-sorted run is ~linear.
    // The Exchange elision is the part that matters at scale.

    // correctness against a plain (shuffled) join
    val expect = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(joined.count() == expect)
  }

  test("groupBy on the bucket key aggregates without a shuffle") {
    val agg = spark.table("li_bucketed").groupBy("orderkey")
      .agg(sum(col("l_quantity")).as("q"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
