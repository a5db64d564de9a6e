package graft.sources

import graft.Slice
import graft.io.ParquetFooters
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Sources — slice constructors (reference: Const slice.go:212-290,
 * ReaderFunc slice.go:292-402, ScanReader scan.go:22-69,
 * tarslice archive/tarslice/tarslice.go:29-74).
 *
 * Spark-first: file sources go through `spark.read` (splittable,
 * predicate-pushdown-capable, strictly better than the reference's
 * striped re-reading readers); programmatic sources through
 * `spark.range(nshard).flatMap` so per-shard generator state lives on
 * executors, never the driver.
 */
object Sources {

  /** In-memory literal table split into nshard shards (≅ Const,
    * slice.go:212-290). Driver-held by definition — for tests/small dims. */
  def const[T: Encoder](spark: SparkSession, nshard: Int, rows: Seq[T]): Slice =
    Slice(spark.createDataset(rows).repartition(nshard).toDF())

  /**
   * Custom programmatic source (≅ ReaderFunc, slice.go:292-402): one
   * generator invocation per shard, distributed — `spark.range` with
   * exactly nshard partitions puts shard i's generation on an executor.
   * The reference's vectorized (int, error) protocol collapses to a
   * plain Iterator; Spark handles batching (WholeStageCodegen) itself.
   */
  def readerFunc[T: Encoder](spark: SparkSession, nshard: Int)(
      gen: Int => Iterator[T]): Slice = {
    import spark.implicits._
    Slice(spark.range(0, nshard, 1, nshard)
      .flatMap(shard => gen(shard.toInt)).toDF())
  }

  /** Text-file source, one string column of lines (≅ ScanReader,
    * scan.go:22-69). spark.read.text is splittable — each shard reads
    * only its split, unlike the reference's skip-striping re-reads. */
  def scanReader(spark: SparkSession, path: String): Slice =
    Slice(spark.read.text(path))  // column: value STRING

  /** Parquet source (the corpus format; supersedes the reference's gob
    * cache files). Filters/projections push down to row groups. */
  def readParquet(spark: SparkSession, path: String): Slice =
    Slice(ParquetFooters.read(spark, path))

  def readCsv(spark: SparkSession, path: String, header: Boolean = true): Slice =
    Slice(spark.read.option("header", header.toString).csv(path))

  def readJson(spark: SparkSession, path: String): Slice =
    Slice(spark.read.json(path))

  /**
   * Tar-archive source (≅ tarslice.Reader,
   * archive/tarslice/tarslice.go:29-74): one task per archive, entries
   * STREAMED off an executor-side Hadoop input stream — the archive is
   * never materialized in memory and there is no size cap (the old
   * binaryFile formulation buffered the whole archive and inherited its
   * 2 GiB limit; the reference streams too, tarslice.go:58-66). Only
   * one ENTRY body is held at a time (inherent to row-shaped output).
   * Output: (file STRING, name STRING, size LONG, body BINARY). Uses
   * commons-compress (ships with Spark). The driver touches file NAMES
   * only (glob listing — the same metadata walk every file source does).
   */
  def readTar(spark: SparkSession, glob: String): Slice = {
    import spark.implicits._
    val sc = spark.sparkContext
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      sc.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(glob)
    val paths = Option(p.getFileSystem(sc.hadoopConfiguration).globStatus(p))
      .getOrElse(Array.empty).filter(_.isFile).map(_.getPath.toString).toSeq
    val out = spark
      .createDataset(sc.parallelize(paths, math.max(paths.length, 1)))
      .flatMap { pathStr =>
        val fp = new org.apache.hadoop.fs.Path(pathStr)
        val in = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
          new java.io.BufferedInputStream(
            fp.getFileSystem(hconf.value).open(fp), 256 * 1024))
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            try in.close() catch { case _: java.io.IOException => } })
        Iterator.continually(in.getNextEntry).takeWhile(_ != null)
          .filter(_.isFile)
          .map { e =>
            // body read fully BEFORE the iterator advances to the next
            // entry (lazy flatMap: the consumer pulls one row at a time)
            val buf = new java.io.ByteArrayOutputStream(
              math.max(e.getSize.toInt, 64))
            val tmp = new Array[Byte](64 * 1024)
            var n = in.read(tmp)
            while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
            (pathStr, e.getName, e.getSize, buf.toByteArray)
          }
      }.toDF("file", "name", "size", "body")
    Slice(out)
  }

  /**
   * Tar-archive shard sink (WebDataset-style export; the write-side
   * complement of [[readTar]], which the reference only has as a
   * reader, archive/tarslice/tarslice.go:29-74). Each partition of
   * `df` streams into ONE `shard-NNNNN.tar` under `dir` — the standard
   * layout for packed training samples, where a loader later consumes
   * whole shards sequentially. Entry bodies are written straight from
   * the row iterator: one entry in memory at a time, no per-shard
   * buffering, so shard size is bounded only by storage.
   *
   * Task-retry safety: every attempt writes to an attempt-unique file
   * under `dir/_tmp/` and renames into place only after its iterator
   * is exhausted. A destination that already exists means another
   * attempt of the same (deterministic) partition committed first —
   * the loser deletes its temp and defers. Rename is the same
   * worst-case-visible unit every Hadoop file committer uses.
   *
   * Input columns: `nameCol` STRING (entry name, must be non-null and
   * unique within the dataset for faithful round-trips), `bodyCol`
   * BINARY. Eager action; returns the shard manifest
   * (shard INT, file STRING, entries LONG, bytes LONG) — one row per
   * non-empty partition (bounded driver data).
   */
  def writeTar(df: DataFrame, dir: String,
               nameCol: String = "name", bodyCol: String = "body"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val shards = df.select(col(nameCol).cast("string"), col(bodyCol))
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else {
          val tc = org.apache.spark.TaskContext.get()
          val shard = tc.partitionId()
          val fs = new org.apache.hadoop.fs.Path(dir)
            .getFileSystem(hconf.value)
          val tmp = new org.apache.hadoop.fs.Path(
            dir, f"_tmp/shard-$shard%05d-attempt-${tc.taskAttemptId()}.tar")
          val dest = new org.apache.hadoop.fs.Path(dir, f"shard-$shard%05d.tar")
          val out = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(
            new java.io.BufferedOutputStream(fs.create(tmp, true), 256 * 1024))
          out.setLongFileMode(org.apache.commons.compress.archivers.tar
            .TarArchiveOutputStream.LONGFILE_POSIX)
          var entries = 0L
          var bytes = 0L
          try {
            it.foreach { row =>
              val name = row.getString(0)
              require(name != null, "writeTar: null entry name")
              val raw = row.getAs[Array[Byte]](1)
              // a NULL body is a zero-length entry, not a task NPE
              val body = if (raw == null) Array.emptyByteArray else raw
              val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry(name)
              e.setSize(body.length.toLong)
              out.putArchiveEntry(e)
              out.write(body)
              out.closeArchiveEntry()
              entries += 1; bytes += body.length
            }
            out.close()
            // commit: first attempt to rename wins; content is
            // deterministic per partition, so a loser just withdraws
            if (!fs.rename(tmp, dest)) {
              if (!fs.exists(dest))
                throw new java.io.IOException(s"writeTar: commit failed for $dest")
              fs.delete(tmp, false)
            }
          } catch {
            case t: Throwable =>
              try out.close() catch { case _: Throwable => }
              try fs.delete(tmp, false) catch { case _: Throwable => }
              throw t
          }
          Iterator.single((shard, dest.toString, entries, bytes))
        }
      }.collect()  // bounded: one row per partition
    spark.createDataset(shards.toSeq).toDF("shard", "file", "entries", "bytes")
  }
}
