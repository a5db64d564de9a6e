package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What every workload gets: the session, the run record, the seed,
  * the read-only base corpus and a scratch directory of its own. */
final case class Ctx(spark: SparkSession, rec: Record, seed: Long,
                     data: String, work: String) {
  def rng(salt: Long): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)
}

/** Harness-side work that needs no order (state builds, output checks),
  * run on at most one thread per core. */
object Parallel {
  def apply[T](bodies: (() => T)*): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(bodies.size, Runtime.getRuntime.availableProcessors()))
    try bodies.map(b => pool.submit(() => b())).map(_.get())
    finally pool.shutdown()
  }
}

/** One workload: `setup` builds its state and runs one untimed warm-up
  * cycle, `run` drives whole cycles until the deadline, `finish` checks
  * outputs outside the timed region and records end-of-run values. */
trait Workload {
  def setup(): Unit
  def run(deadlineMs: Double): Unit
  def finish(): Unit
}

/** Runs one workload in this JVM and writes the run record as JSON.
  * Flags: --workload --seed --seconds --trace 0|1 --data --work --out
  * --launched-ms (the caller's clock when it spawned this JVM, so
  * session start-up includes JVM start). */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traced = a("trace") == "1"
    val rec = new Record(traced)
    val launched = a("launched-ms").toDouble
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.local(cores)
    rec.values("session_s") = (Clock.nowMs - launched) / 1000
    val listener = new JobListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    rec.notes("spark_version") = spark.version
    rec.notes("java_version") = System.getProperty("java.version")
    rec.notes("cores") = cores.toString
    rec.notes("max_heap_mb") = (Runtime.getRuntime.maxMemory / 1048576).toString

    val ctx = Ctx(spark, rec, a("seed").toLong, a("data"), a("work"))
    // setup starts before the workload loads its base data
    val t0 = Clock.nowMs
    val w: Workload = a("workload") match {
      case "batch_pipeline" => new BatchPipeline(ctx)
      case "cdc_serve" => new CdcServe(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    rec.values("build_s") = (Clock.nowMs - t0) / 1000
    val t1 = Clock.nowMs
    rec.values("measure_start_ms") = t1
    w.run(t1 + a("seconds").toDouble * 1000)
    rec.values("measure_end_ms") = Clock.nowMs
    rec.values("live_heap_mb") = rec.liveHeapMb()
    val t2 = Clock.nowMs
    w.finish()
    rec.values("finish_s") = (Clock.nowMs - t2) / 1000
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    Files.writeString(Paths.get(a("out")), Json.render(rec, listener.snapshot))
    // the record is written and the caller deletes the work directory:
    // skip Spark's orderly shutdown
    Runtime.getRuntime.halt(0)
  }
}
