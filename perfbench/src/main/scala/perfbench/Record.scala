package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond digits: Spark's
  * listener events carry epoch-ms stamps, so spans and ops use the same
  * base to be comparable with job submission times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed operation of a workload: what the end-to-end metrics are
  * computed from. */
final case class Op(kind: String, startMs: Double, endMs: Double, ok: Boolean)

/** Everything one run records, written as JSON at exit. Spans and jobs
  * stay empty unless the run is traced. */
final class Record(val traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[(String, Double, Double)]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val notes = mutable.LinkedHashMap.empty[String, String]

  /** Time `body` as an op of `kind`; `check` runs after the clock stops
    * and decides whether the op's output was right. An op opens no span:
    * the layer spans inside it say where its time went. */
  def op[T](kind: String)(body: => T)(check: T => Boolean): T = {
    val t0 = Clock.nowMs
    val out = body
    val t1 = Clock.nowMs
    ops += Op(kind, t0, t1, check(out))
    out
  }

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  /** Time one pass or cycle of a closed loop. */
  def cycle(body: => Unit): Unit = {
    val t0 = Clock.nowMs
    body
    sample("cycle_ms", Clock.nowMs - t0)
  }

  /** The live heap after full collections: the data the workload holds,
    * independent of when collections happen to run. */
  def liveHeapMb(): Double = {
    // repeated, so Spark's cleaner thread can drop what each collection
    // released before the next one runs
    for (_ <- 0 until 3) {
      System.gc()
      Thread.sleep(300)
    }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A span around a call into one layer: kept only in traced runs. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val t0 = Clock.nowMs
      try body
      finally synchronized(spans += ((name, t0, Clock.nowMs)))
    }
}

/** Per-job Spark counters gathered from task ends. Registered only in
  * traced runs; attribution of jobs to spans happens after the run. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val submitMs: Long) {
    @volatile var endMs: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var rowsRead = 0L
    var shuffleBytes = 0L
    var writtenBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.rowsRead += m.inputMetrics.recordsRead
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      j.writtenBytes += m.outputMetrics.bytesWritten
    }
  }

  def snapshot: Seq[Job] = synchronized(jobs.values.toSeq)
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def render(r: Record, jobs: Seq[JobListener#Job]): String = obj(Seq(
    "ops" -> arr(r.ops.map(o => obj(Seq("kind" -> str(o.kind),
      "start" -> num(o.startMs), "end" -> num(o.endMs),
      "ok" -> o.ok.toString)))),
    "spans" -> arr(r.spans.map { case (n, a, b) =>
      obj(Seq("name" -> str(n), "start" -> num(a), "end" -> num(b))) }),
    "jobs" -> arr(jobs.map(j => obj(Seq("id" -> j.id.toString,
      "submit" -> j.submitMs.toString, "end" -> j.endMs.toString,
      "tasks" -> j.tasks.toString, "cpu_ns" -> j.cpuNs.toString,
      "gc_ms" -> j.gcMs.toString,
      "rows_read" -> j.rowsRead.toString,
      "shuffle_bytes" -> j.shuffleBytes.toString,
      "written_bytes" -> j.writtenBytes.toString)))),
    "values" -> obj(r.values.map { case (k, v) => k -> num(v) }),
    "samples" -> obj(r.samples.map { case (k, vs) => k -> arr(vs.map(num)) }),
    "notes" -> obj(r.notes.map { case (k, v) => k -> str(v) })))
}
