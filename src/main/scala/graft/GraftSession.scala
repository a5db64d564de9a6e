package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Session factory with scale-appropriate defaults (≅ the reference's
 * exec.Start/Session, exec/session.go:102-105 — except Spark provides
 * the executor, so "starting a session" is all that remains).
 */
object GraftSession {

  /**
   * Generated-code reuse, paid for out of the status store. Both
   * [[local]] and [[scaleConf]] apply it.
   *
   *  - `spark.sql.codegen.cache.maxEntries` 1024 (Spark's default is
   *    100): the JVM-wide LRU of janino-compiled classes must hold the
   *    working set a recurring workload cycles through, or every pass
   *    recompiles it. Measured: ~285 distinct classes for a pass over
   *    ten batch queries, ~620 for one ingest/stream/probe cycle over
   *    the persisted indexes. A cached class holds ~28 KB of heap, so
   *    the cap costs at most 1024 × 28 KB ≈ 28 MB. The cap is STATIC:
   *    the first session of a JVM fixes it for the JVM's lifetime.
   *  - `spark.sql.codegen.useIdInClassName` false: with the id, the
   *    same stage body compiles again whenever its position in a plan
   *    shifts (`GeneratedIteratorForCodegenStage<N>`, N moving with
   *    the number of segment scans); without it the source text, and
   *    so the cache key, is the same.
   *  - Status-store retention cut to what a session without a UI
   *    needs, to pay for the cache's heap: nothing in graft reads the
   *    store, whose defaults keep 1000 jobs, 1000 stages, 100k tasks
   *    per stage and 1000 SQL executions alive. With all three
   *    settings the live heap after a benchmark run rose 2-5%.
   */
  private[graft] val codegenConf: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "1024",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.ui.retainedJobs" -> "50",
    "spark.ui.retainedStages" -> "50",
    "spark.ui.retainedTasks" -> "1000",
    "spark.sql.ui.retainedExecutions" -> "50")

  /**
   * Conf block for a REAL cluster at the 100 TB design point (e.g.
   * 1000 executors × 8 cores) — every knob with its sizing rationale.
   * Local runs use [[local]]'s subset; a deployment applies this to its
   * builder (`scaleConf.foldLeft(builder){case (b,(k,v)) => b.config(k,v)}`).
   */
  def scaleConf(totalCores: Int = 8000): Map[String, String] = Map(
    // AQE owns runtime re-planning: partition coalescing, skew-join
    // splitting, join-strategy switches at actual sizes.
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Initial shuffle partitions ≈ 2× total cores: enough granularity
    // for AQE to coalesce DOWN (it cannot split a too-coarse map side);
    // at 100 TB this also keeps ~6 GB per reduce partition out of the
    // picture (100 TB / 16k ≈ 6 GB would spill — the advisory size
    // below is what AQE actually targets after coalescing).
    "spark.sql.shuffle.partitions" -> (totalCores * 2).toString,
    // Post-shuffle partition target: well under executor task memory
    // (a few GB) so hash aggregates and joins stay in memory.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128m",
    // Scan split size: bigger splits amortize task startup on columnar
    // scans; 256m × 8 concurrent tasks ≈ 2 GB of scan buffers per
    // executor — sized to fit alongside shuffle memory.
    "spark.sql.files.maxPartitionBytes" -> "256m",
    // Dimension tables broadcast up to 64 MB — covers every TPC-H dim
    // at any SF while bounding driver/executor broadcast memory.
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    "spark.sql.parquet.filterPushdown" -> "true",
    // candidate-pushdown reads (MergeTable.pruneVals) push an In of up
    // to graft.mergetable.keyPrune.maxValues (512) key literals; the
    // or'd-equals / parquet-IN form that prunes row groups by stats is
    // only chosen up to this threshold (default 10)
    "spark.sql.parquet.pushdown.inFilterThreshold" -> "512",
    "spark.sql.session.timeZone" -> "UTC") ++ codegenConf

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "512")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the corpus's events.ts is TIMESTAMP(NANOS), which Spark 4 only
      // reads as long; Tables.load converts it back to a timestamp.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(codegenConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Corpus table loader (TESTDATA.md layout: one parquet per table). */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$table.parquet")
    // events.ts normalizes to TimestampType whatever the generator
    // wrote: TIMESTAMP(NANOS) parquet arrives as a long under
    // spark.sql.legacy.parquet.nanosAsLong (convert with exact integer
    // division — epoch-ns exceeds double's 2^53 exact range);
    // TIMESTAMP(MICROS) arrives as TIMESTAMP_NTZ (cast; the session
    // timezone is UTC, so wall values are the same instants either way).
    if (table == "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts DIV 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", df("ts").cast("timestamp"))
        case _ => df
      }
    else df
  }

  def slice(spark: SparkSession, sfDir: String, table: String): Slice =
    Slice(load(spark, sfDir, table))
}
