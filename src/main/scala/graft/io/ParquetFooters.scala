package graft.io

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Schema and row count of persisted parquet, read in the driver from
 * file footers: no Spark job.
 *
 * `spark.read.parquet(dir)` without a schema runs a Spark job that reads
 * one data file's footer to infer it, and `count()` / `isEmpty` on a
 * frame fresh from disk run one more. Both answers sit in the footers:
 *
 *  - the schema is the first data file's — Spark's row metadata when
 *    Spark wrote the file, else Spark's own `ParquetToSparkSchemaConverter`
 *    under the session's conf (so `spark.sql.legacy.parquet.nanosAsLong`
 *    and the binary/INT96 settings apply as in Spark's inference).
 *    Partition columns (`list_id=3/`) are not in the files: [[read]]
 *    lets Spark's file index add them, as it does after inferring;
 *  - the row count is the sum of every data file's row-group counts.
 *
 * Data files are those Spark's file index lists: hidden (`.`) and
 * metadata (`_`, unless a `k=v` partition) names are skipped at every
 * level. A path with no data file — missing, empty, or a glob — goes to
 * Spark as before, and fails or answers exactly as it did.
 */
object ParquetFooters {

  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** `spark.read.parquet(path)`, with the schema from the footer. */
  def read(spark: SparkSession, path: String): DataFrame =
    files(spark, path).headOption match {
      case Some(f) => spark.read.schema(fileSchema(spark, f)).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** `spark.read.parquet(path).count()`, from the footers. */
  def count(spark: SparkSession, path: String): Long = {
    val data = files(spark, path)
    if (data.isEmpty) spark.read.parquet(path).count()
    else data.iterator.map(meta(spark, _).getBlocks.asScala.iterator.map(_.getRowCount).sum).sum
  }

  /** The schema Spark infers from the footer of the data file `file`. */
  def fileSchema(spark: SparkSession, file: Path): StructType = {
    val fm = meta(spark, file).getFileMetaData
    Option(fm.getKeyValueMetaData.get(SparkRowMetadata))
      .flatMap(s => scala.util.Try(DataType.fromJson(s)).toOption)
      .collect { case t: StructType => t }
      .getOrElse(new ParquetToSparkSchemaConverter(shims.sqlConf(spark)).convert(fm.getSchema))
  }

  private def meta(spark: SparkSession, file: Path): ParquetMetadata =
    ParquetOpen.footer(spark.sparkContext.hadoopConfiguration, file)

  /** The data files of `root` in path order: `root` itself when it is a
    * file. Fails when `root` is missing. */
  def dataFiles(f: FileSystem, root: Path): Seq[Path] = {
    val st = f.getFileStatus(root)
    if (!st.isDirectory) Seq(st.getPath)
    else {
      val out = Seq.newBuilder[Path]
      def walk(dir: Path): Unit =
        f.listStatus(dir).sortBy(_.getPath.getName).foreach { s =>
          if (!hidden(s.getPath.getName)) {
            if (s.isDirectory) walk(s.getPath) else out += s.getPath
          }
        }
      walk(st.getPath)
      out.result()
    }
  }

  // Spark's InMemoryFileIndex.shouldFilterOutPathName, with parquet's
  // `_metadata` summaries (never data) skipped too
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def files(spark: SparkSession, path: String): Seq[Path] =
    if (path.exists("{}[]*?\\".contains(_))) Nil
    else {
      val p = new Path(path)
      try dataFiles(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      catch { case _: FileNotFoundException => Nil }
    }
}
