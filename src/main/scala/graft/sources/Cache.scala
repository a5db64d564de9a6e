package graft.sources

import graft.Slice
import graft.io.ParquetFooters
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import java.nio.file.{Files, Paths}

/**
 * Cache family (reference: Cache/CachePartial cache.go:32-95,
 * internal/slicecache/slicecache.go:36-119).
 *
 *  - [[cache]]: all-or-nothing materialization, parquet-backed — the
 *    scalable path (columnar, splittable, readable by any engine).
 *  - [[cachePartial]]: per-shard reuse — cached shards are read back,
 *    missing shards recomputed and written. Spark's lazy partition
 *    iterators mean a cached shard's upstream narrow work is skipped
 *    (shuffle map sides still run, as in the reference where the
 *    shuffle already happened upstream). Same nondeterminism caveat as
 *    the reference (cache.go:56-61).
 */
object Cache {

  private def successMarker(dir: String) = Paths.get(dir, "_GRAFT_CACHE_OK")

  /** Materialize to `dir` as parquet; short-circuit to a read when the
    * cache is complete (≅ Cache, cache.go:32-49). */
  def cache(s: Slice, dir: String): Slice = {
    if (!Files.exists(successMarker(dir))) {
      s.df.write.mode("overwrite").parquet(dir)
      Files.createFile(successMarker(dir))
    }
    Slice(ParquetFooters.read(s.spark, dir), s.prefix)
  }

  /** Read-only view of an existing cache (≅ ReadCache, cache.go:86-95). */
  def readCache(spark: SparkSession, dir: String, prefix: Int = 1): Slice =
    Slice(ParquetFooters.read(spark, dir), prefix)

  /**
   * Invalidate a cache directory (≅ Session.Discard,
   * exec/session.go:436-442): deletes the success marker FIRST (so a
   * concurrent [[cache]] can no longer short-circuit to a stale read),
   * then the data files. After discard, the next [[cache]] recomputes.
   * Works on both [[cache]] and [[cachePartial]] layouts.
   */
  def discard(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      Files.deleteIfExists(successMarker(dir))
      val files = Files.walk(p)
      try {
        files.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { Files.deleteIfExists(f); () })
      } finally files.close()
    }
  }

  /**
   * Small-files compaction: rewrite a parquet cache dir into
   * ~targetBytes files. Long-running ingest (streaming sinks,
   * per-batch appends, over-parallel writes) accretes thousands of
   * tiny files; at 100 TB that is scan-task explosion and NameNode/
   * listing pressure. Reads once, coalesces (narrow — no shuffle) to
   * ceil(total/target) files, writes to a temp dir, then swaps. The
   * swap is not atomic for concurrent readers (same single-writer
   * assumption as the reference's cache, slicecache.go:36-50);
   * the completeness marker is removed first and restored last so a
   * concurrent [[cache]] call never short-circuits onto a half-swapped
   * dir. Returns the new file count.
   */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L << 20): Int = {
    val p = Paths.get(dir)
    val parts = Files.list(p).filter(f =>
      f.getFileName.toString.endsWith(".parquet")).toArray.map(_.toString)
    val total = parts.map(f => Files.size(Paths.get(f))).sum
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val tmp = dir.stripSuffix("/") + "__compact_tmp"
    ParquetFooters.read(spark, dir).coalesce(n)
      .write.mode("overwrite").parquet(tmp)
    val hadMarker = Files.exists(successMarker(dir))
    discard(dir)
    Files.move(Paths.get(tmp), p)
    if (hadMarker) { Files.createFile(successMarker(dir)); () }
    n
  }

  /**
   * Hive-style partitioned parquet layout (`dir/col=value/…`) — the
   * 100 TB table organization: queries filtering on the partition
   * column prune whole directories at planning time (PartitionFilters
   * in the scan; asserted in PlanSpec). The reference has no
   * partitioned storage at all — its cache shards are opaque
   * `prefix-NNNN-of-MMMM` files (slicecache.go:36-50).
   */
  def writePartitioned(s: Slice, dir: String, partCols: Seq[String]): Unit =
    s.df.write.mode("overwrite").partitionBy(partCols: _*).parquet(dir)

  def readPartitioned(spark: SparkSession, dir: String, prefix: Int = 1): Slice =
    Slice(ParquetFooters.read(spark, dir), prefix)

  /**
   * Per-shard cache with partial reuse (≅ CachePartial, cache.go:51-66).
   * Shard i ↔ file `part-IIII-of-MMMM.bin` (Java-serialized value
   * arrays — an internal format, like the reference's gob shards). Each
   * task either replays its file or computes+writes it. Exact per-shard
   * semantics require a stable partition count: pin with reshard()
   * upstream if the lineage isn't deterministic.
   *
   * Memory: STREAMING on both paths — rows are written to the temp file
   * as they flow to the consumer and replayed one at a time, so a
   * multi-GB shard never sits in task heap (the reference streams too,
   * cache.go:51-66). The file format is a sequence of
   * (true, values)* false records; the trailing `false` doubles as the
   * completeness marker — a truncated write never commits because the
   * atomic move only happens after the terminator. ObjectOutputStream's
   * handle table is reset every 1024 rows so it can't grow with shard
   * size. If the consumer abandons the iterator early (e.g. a limit),
   * the temp file is dropped by the task-completion listener and the
   * shard is simply not cached — never a partial commit.
   */
  def cachePartial(s: Slice, dir: String): Slice = {
    Files.createDirectories(Paths.get(dir))
    val m = s.df.rdd.getNumPartitions
    val schema = s.df.schema
    implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(schema)
    val dirB = dir
    val out = s.df.mapPartitions { it =>
      val shard = org.apache.spark.TaskContext.getPartitionId()
      val f = Paths.get(dirB, f"part-$shard%04d-of-$m%04d.bin")
      if (Files.exists(f)) {
        // replay cached shard; upstream iterator never consumed (lazy)
        val in = new java.io.ObjectInputStream(
          new java.io.BufferedInputStream(Files.newInputStream(f)))
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            try in.close() catch { case _: java.io.IOException => } })
        new Iterator[Row] {
          private var more = in.readBoolean()
          override def hasNext: Boolean = more
          override def next(): Row = {
            val vals = in.readObject().asInstanceOf[Array[Any]]
            more = in.readBoolean()
            if (!more) in.close()
            new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
              vals, schema)
          }
        }
      } else {
        val tmp = Files.createTempFile(Paths.get(dirB), s"part-$shard", ".tmp")
        val os = new java.io.ObjectOutputStream(
          new java.io.BufferedOutputStream(Files.newOutputStream(tmp)))
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            try os.close() catch { case _: java.io.IOException => }
            Files.deleteIfExists(tmp); () })
        new Iterator[Row] {
          private var n = 0L
          private var committed = false
          private def finish(): Unit = if (!committed) {
            committed = true
            os.writeBoolean(false)
            os.close()
            try Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                Files.deleteIfExists(tmp); ()
            }
          }
          override def hasNext: Boolean = {
            val h = it.hasNext
            if (!h) finish()
            h
          }
          override def next(): Row = {
            val r = it.next()
            os.writeBoolean(true)
            os.writeUnshared(r.toSeq.toArray)
            n += 1
            if (n % 1024 == 0) os.reset()
            r
          }
        }
      }
    }
    Slice(out, s.prefix)
  }
}
