package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times SparkEntry.benchQueries on SPARK_GRAFT_SF_DIR,
  * prints ONE JSON line for the driver (BENCH_r{N}.json).
  *
  * Failure honesty: a query that throws is reported as `-1` with its
  * error in an `"errors"` object, and is excluded from the total — a
  * regression can never masquerade as a fast time. */
object Bench {

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** 1/5/15-minute load averages — a contended box shows up here, so a
    * slow artifact is self-diagnosing (round 4 burned a day on a
    * phantom 5× "regression" that was machine load). */
  private def loadAvg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }

  /**
   * Time each query and render the driver's one-line JSON.
   * Steady-state throughput: up to three timed runs per query at the
   * target SF, report the min (min-of-3 — resolves run-to-run
   * shuffle/GC jitter that min-of-2 left visible, e.g. op_cogroup
   * r1→r2 ±26%). Run 1 pays one-time plan-specific costs (AQE
   * re-plans at the target data sizes → fresh codegen + JIT, ~4s on
   * the heavier queries) that are irrelevant to sustained throughput
   * at scale; a prior sf0.001 warmup does NOT cover this because
   * adaptive plans are data-size-dependent. A failing query reports
   * -1 + an errors entry and stops retrying.
   *
   * Contamination visibility: ALL per-run times are emitted in "runs"
   * (min stays the headline) plus /proc/loadavg before/after — so a
   * contended machine is visible IN the artifact instead of reading as
   * a code regression. Steady state: the CacheManager dedupes persisted
   * plans (dedup family), so without clearing, runs 2-3 would time a
   * partially cached pipeline; clearCache before each run keeps every
   * timed run the full cold pipeline (mirrors Verify.scala).
   */
  /** Self-defense against a contended box (three rounds of driver
    * artifacts ran at loadavg 3.5–4.6 and read as phantom regressions):
    * before the first timed run, if the 1-minute loadavg is at or over
    * `gate`, sleep-poll until it drops or `maxWaitSecs` elapses.
    * Returns (loadavg at the gate decision, seconds waited) — both are
    * emitted in the artifact, so a run that STARTED dirty after
    * exhausting the wait is machine-readably flagged (`load_dirty`)
    * instead of needing adjudication prose. */
  private[graft] def awaitQuietBox(gate: Double, maxWaitSecs: Int,
                                   pollSecs: Int = 15): (Double, Int) = {
    var waited = 0
    var la = loadAvg().headOption.getOrElse(0.0)
    while (la >= gate && waited < maxWaitSecs) {
      Thread.sleep(pollSecs * 1000L)
      waited += pollSecs
      la = loadAvg().headOption.getOrElse(0.0)
    }
    (la, waited)
  }

  /** Per-query EXTERNAL-load gate for the clean-twin re-pass: a run's
    * external pressure is estimated as (1-min loadavg at run end)
    * minus (this JVM's own 1-min-EWMA CPU cores, [[SelfLoad]] — the
    * bench saturates the box by design, so raw loadavg would flag
    * every query at any real SF). Queries whose HEADLINE run shows
    * external pressure at or above this gate are re-run once after
    * the box quiets.
    *
    * 1.0, not 2.0: r13's box drifted to ~+2 ambient cores mid-run —
    * a uniform ~1.1× across 19 queries — and the loadavg EWMA lag
    * plus self-cores subtraction put the measured externals at
    * 1.3–1.9, under the old 2.0 trigger, so only 7 of 21 regressed
    * queries got clean twins and the round needed a by-hand
    * adjudication pass. A genuinely quiet box measures ~0 external;
    * 1.0 keeps subtraction slop from constant reruns while catching
    * exactly the drift band r13 sat in. Cost when dirty: one extra
    * run per flagged query, after the box quiets. */
  private[graft] val CleanPassGate = 1.0

  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** This JVM's own CPU cores as a 1-minute EWMA mirroring the
    * kernel's loadavg smoothing (5 s samples, alpha = 1−e^(−5/60)).
    * The external-pressure estimate subtracts self load from the 1-min
    * loadavg; subtracting an INSTANTANEOUS self-cores reading from an
    * EWMA misattributes our own recent history to "external" right
    * after short queries (false dirty → spurious waits) and
    * understates a drifting ambient during long ones (r13's uniform
    * 1.1× sat between the mismatched readings). Like-for-like
    * smoothing removes both biases. */
  private object SelfLoad {
    @volatile private var value = 0.0
    private val alpha = 1.0 - math.exp(-5.0 / 60.0)
    private val started = new java.util.concurrent.atomic.AtomicBoolean
    def ewma: Double = value
    def start(): Unit = if (started.compareAndSet(false, true)) {
      val t = new Thread(() => {
        var cpu0 = osBean.getProcessCpuTime
        var t0 = System.nanoTime()
        // seed at the first sample so the estimate tracks from the
        // bench's steady state instead of ramping from zero
        var seeded = false
        while (true) {
          Thread.sleep(5000)
          val cpu1 = osBean.getProcessCpuTime
          val t1 = System.nanoTime()
          val cores = math.max(0.0, (cpu1 - cpu0).toDouble / (t1 - t0))
          cpu0 = cpu1; t0 = t1
          value = if (!seeded) { seeded = true; cores }
                  else value + alpha * (cores - value)
        }
      }, "bench-self-load")
      t.setDaemon(true)
      t.start()
    }
  }

  /** (compact, detail): `compact` is the driver-facing line — headline
    * total + per-query mins + clean_runs + load fields, and NOTHING
    * per-run — sized to survive the driver's ~2 KB stdout-tail capture
    * (round 10's artifact was truncated mid-`runs` and lost the
    * medians). `detail` additionally carries the per-run times
    * ("runs"), per-run external load ("run_xload") and per-run codegen
    * compilations ("codegen_compilations"); main() writes
    * it to a repo file (BENCH_DETAIL.json) committed alongside. */
  def benchLines(spark: SparkSession, sfDir: String,
                 queries: Seq[(String, (SparkSession, String) =>
                   org.apache.spark.sql.DataFrame)],
                 extraFields: String = ""): (String, String) = {
    val loadBefore = loadAvg()
    SelfLoad.start()
    // per-query codegen compilations of each headline run, in run
    // order: a count that repeats exactly between runs, beside the
    // wall times (JVM-wide, so it is read around one query at a time)
    val compiles = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[Long]]()
    def compilations: Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    // (wall secs, 1-min loadavg at end, self EWMA cores at end, err,
    // codegen compilations)
    def timedRun(fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)
        : (Double, Double, Double, Option[String], Long) = {
      spark.catalog.clearCache()
      val c0 = compilations
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).collect(); None }
        catch {
          case t: Throwable => Some(t.getClass.getName + ": " +
            Option(t.getMessage).getOrElse("").take(300))
        }
      val wall = (System.nanoTime() - t0) / 1e9
      (wall, loadAvg().headOption.getOrElse(0.0), SelfLoad.ewma, err,
        compilations - c0)
    }
    // MID-RUN RE-GATE (r13: the start gate passed at 1.77, then the
    // box drifted to 3.7+ and 19 queries read ~1.1× dirty — the gate
    // must re-check BETWEEN queries, not just before run 1): when the
    // previous query's last run measured external pressure at or over
    // the clean gate, pause until the raw loadavg decays below
    // start-gate level (bounded — while we idle, our own EWMA
    // contribution drains with the ~1-min time constant, so a raw
    // gate is meaningful here even though per-run pressure needs the
    // self-cores subtraction) before timing the next query. A
    // transient spike then contaminates one query, not the tail of
    // the artifact; a persistently loaded box exhausts each bounded
    // wait and the clean-twin pass still adjudicates at the end.
    var midrunWaits = 0
    var midrunWaitSecs = 0
    var lastExternal = 0.0
    val results
        : Seq[(String, Seq[(Double, Double, Double)], Option[String])] =
      queries.map { case (name, fn) =>
        if (lastExternal >= CleanPassGate) {
          val (_, w) = awaitQuietBox(gate = 2.0, maxWaitSecs = 150)
          if (w > 0) { midrunWaits += 1; midrunWaitSecs += w }
        }
        var err: Option[String] = None
        val times = Seq.newBuilder[(Double, Double, Double)]
        var run = 0
        while (run < 3 && err.isEmpty) {
          val (t, la, sc, e, nc) = timedRun(fn)
          err = e
          times += ((t, la, sc))
          compiles.getOrElseUpdate(name,
            scala.collection.mutable.ArrayBuffer[Long]()) += nc
          run += 1
        }
        val ts = times.result()
        lastExternal = ts.lastOption
          .map(t => math.max(0.0, t._2 - t._3)).getOrElse(0.0)
        (name, ts, err)
      }
    // Clean-twin re-pass (self-adjudicating artifact): a query whose
    // HEADLINE (min-time) run ran under external pressure ≥ gate is
    // re-run ONCE after the box quiets — its clean time lands in
    // "clean_runs", so a mid-run contention spike never needs prose to
    // dismiss (r9 had four phantom regressions adjudicated by hand).
    // The headline "queries"/"value" stay min-of-3 for round-over-round
    // comparability; readers prefer clean_runs where present.
    def external(t: (Double, Double, Double)): Double =
      math.max(0.0, t._2 - t._3)
    val dirtyQs = results.collect {
      case (name, ts, None)
        if ts.nonEmpty && external(ts.minBy(_._1)) >= CleanPassGate => name
    }
    val cleanRuns: Seq[(String, Double, Double)] =
      if (dirtyQs.isEmpty) Seq.empty
      else {
        val (laQuiet, _) = awaitQuietBox(CleanPassGate, maxWaitSecs = 180)
        if (laQuiet >= CleanPassGate) Seq.empty // box never quieted: skip
        else {
          val byName = queries.toMap
          val headlineMin = results.collect {
            case (n, ts, None) if ts.nonEmpty => n -> ts.map(_._1).min
          }.toMap
          dirtyQs.map { name =>
            val (t, la, sc, _, _) = timedRun(byName(name))
            val x = math.max(0.0, la - sc)
            // A "clean" twin SLOWER than its dirty headline, or whose
            // post-run load spiked, was itself contaminated — the 1-min
            // loadavg EWMA lags fast load onset, so a short run can
            // stamp xload 0 mid-burst (r14: q_bm25_topk twin 6.2 s at
            // xload 0 vs 3.9 s headline). Re-run once after the box
            // re-quiets and keep the faster reading. Bounded: one extra
            // run per affected query.
            if (t > headlineMin.getOrElse(name, Double.MaxValue) ||
                x >= CleanPassGate) {
              val (laQ2, _) = awaitQuietBox(CleanPassGate, maxWaitSecs = 120)
              if (laQ2 < CleanPassGate) {
                val (t2, la2, sc2, _, _) = timedRun(byName(name))
                val x2 = math.max(0.0, la2 - sc2)
                if (t2 < t) (name, t2, x2) else (name, t, x)
              } else (name, t, x)
            } else (name, t, x)
          }
        }
      }
    // Locale.ROOT: a comma decimal separator would corrupt the JSON
    def sec(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, ts, e) =>
      "\"" + k + "\":" + (if (e.isDefined) "-1.0" else sec(ts.map(_._1).min)) }
      .mkString("{", ",", "}")
    val runs = results.map { case (k, ts, _) =>
      "\"" + k + "\":" + ts.map(t => sec(t._1)).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // per-run external pressure (loadavg minus own cores): the
    // machine-readable contamination stamp
    val runLoad = results.map { case (k, ts, _) =>
      "\"" + k + "\":" + ts.map(t => sec(external(t)))
        .mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val compileField = compiles.map { case (k, ns) =>
      "\"" + k + "\":" + ns.mkString("[", ",", "]") }
      .mkString(",\"codegen_compilations\":{", ",", "}")
    val cleanField =
      if (cleanRuns.isEmpty) ""
      else cleanRuns.map { case (k, t, x) =>
        "\"" + k + "\":{\"sec\":" + sec(t) + ",\"xload\":" + sec(x) + "}"
      }.mkString(",\"clean_runs\":{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) =>
      "\"" + k + "\":\"" + jsonEscape(e) + "\"" }
    val errField =
      if (errs.isEmpty) "" else errs.mkString(",\"errors\":{", ",", "}")
    val total = results.collect { case (_, ts, None) => ts.map(_._1).min }.sum
    val load = (loadBefore ++ loadAvg()).map(sec).mkString("[", ",", "]")
    // mid-run gating stamp: how often (and for how long) the
    // between-queries re-gate paused — a drifting box shows up here
    val midrun =
      s""","midrun_waits":$midrunWaits,"midrun_wait_secs":$midrunWaitSecs"""
    // compact must survive the driver's ~2 KB stdout-tail capture even
    // in the worst case (every query dirty → a full clean_runs map):
    // beyond the size guard, clean_runs stays detail-file-only
    val compactFull =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qs$cleanField,"loadavg":$load$midrun$extraFields$errField,"sf":"$sfDir"}"""
    val compact =
      if (compactFull.length <= 1900) compactFull
      else s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qs,"loadavg":$load$midrun$extraFields$errField,"sf":"$sfDir"}"""
    val detail =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qs,"runs":$runs,"run_xload":$runLoad$compileField$cleanField,"loadavg":$load$midrun$extraFields$errField,"sf":"$sfDir"}"""
    (compact, detail)
  }

  /** Back-compat single-line form (the compact line). */
  def benchLine(spark: SparkSession, sfDir: String,
                queries: Seq[(String, (SparkSession, String) =>
                  org.apache.spark.sql.DataFrame)],
                extraFields: String = ""): String =
    benchLines(spark, sfDir, queries, extraFields)._1

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val gate = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "2.0").toDouble
    val maxWait = sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_SECS", "600").toInt
    val (laAtGate, waited) = awaitQuietBox(gate, maxWait)
    val extra = String.format(java.util.Locale.ROOT,
      ",\"load_gate\":%.1f,\"load_wait_secs\":%d," +
        "\"load_at_gate\":%.2f,\"load_dirty\":%b",
      Double.box(gate), Int.box(waited), Double.box(laAtGate),
      Boolean.box(laAtGate >= gate))
    val spark = GraftSession.local(cpus)
    val (compact, detail) = benchLines(spark, sfDir,
      SparkEntry.benchQueries.map(n => n -> SparkEntry.queries(n)), extra)
    // full per-run detail goes to a repo file (committed alongside the
    // round artifacts); the COMPACT line is printed LAST so the
    // driver's stdout-tail capture always holds a complete, parseable
    // JSON object with the per-query medians
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_DETAIL.json")
    try {
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      try w.println(detail) finally w.close()
      println(s"[bench] per-run detail written to $detailPath")
    } catch {
      case t: Throwable =>
        println(s"[bench] detail write failed (${t.getMessage}); detail inline:")
        println(detail)
    }
    // Belt and braces for the driver contract: the compact line also
    // lands in a root file, so even a mangled stdout tail can't lose it.
    val compactPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_COMPACT",
      "BENCH_COMPACT.json")
    try {
      val w = new java.io.PrintWriter(compactPath, "UTF-8")
      try w.println(compact) finally w.close()
    } catch { case _: Throwable => () }
    // Stop Spark BEFORE printing the compact line and silence shutdown
    // chatter, so the compact JSON is the process's final stdout line
    // (r1–r14 artifacts all ended in sbt/log noise and parsed as null).
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(compact)
    System.out.flush()
  }
}
