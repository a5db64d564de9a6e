package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Scratch profiler: per-Spark-job wall times inside ONE steady-state
  * run of any SparkEntry query (Bench's call pattern: warm at sf0.001,
  * two runs at sf0.1, jobs logged on the last). The refresh families'
  * cost is chain length × per-job floor — this is the tool that shows
  * the chain. */
object ProfileQueryJobs {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_ivm_refresh")
    // A/B lever: GRAFT_PROFILE_CONF="k=v;k=v" overlays session confs
    // (e.g. spark.sql.adaptive.enabled=false) for job-count A/Bs
    val overrides = sys.env.getOrElse("GRAFT_PROFILE_CONF", "")
      .split(";").filter(_.indexOf('=') > 0).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }
    val spark = overrides.foldLeft(
      SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "512")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)
    def run(dir: String): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn(spark, dir).collect()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"warm sf0.001: ${run("/root/testdata/sf0.001")}%.2fs")
    println(f"run1 sf0.1:   ${run("/root/testdata/sf0.1")}%.2fs")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (System.nanoTime(),
          j.stageInfos.map(s =>
            s"${s.name.takeWhile(_ != '\n').take(50)}[${s.numTasks}]")
            .mkString(" | ").take(160)))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, desc) = starts.getOrDefault(j.jobId, (0L, "?"))
        lines.add(
          f"job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3fs  $desc")
      }
    })
    val t = run("/root/testdata/sf0.1")
    Thread.sleep(500)
    lines.forEach(println)
    println(f"TOTAL $name $t%7.3fs")
    spark.stop()
  }
}
