package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

/**
 * Every driver-side parquet open: footers and row reads, over the
 * caller's Hadoop conf (the session's `hadoopConfiguration`).
 *
 * Parquet's short forms — `ParquetFileReader.open(inputFile)` and
 * `ParquetReader.builder(readSupport, path)` — build their options on a
 * fresh `Configuration`, which parses `core-default.xml` and
 * `core-site.xml` again on every open. Here the options come from the
 * conf already loaded, so an open costs the file's I/O alone.
 */
object ParquetOpen {

  /** The footer of the parquet file `file`. */
  def footer(conf: Configuration, file: Path): ParquetMetadata =
    footer(conf, HadoopInputFile.fromPath(file, conf))

  /** The footer of the listed parquet file `file` (no status call). */
  def footer(conf: Configuration, file: FileStatus): ParquetMetadata =
    footer(conf, HadoopInputFile.fromStatus(file, conf))

  private def footer(conf: Configuration, in: HadoopInputFile): ParquetMetadata = {
    val r = ParquetFileReader.open(in,
      HadoopReadOptions.builder(conf, in.getPath).build())
    try r.getFooter finally r.close()
  }

  /** A reader of `file`'s rows as parquet example `Group`s. */
  def groups(conf: Configuration, file: Path): ParquetReader[Group] =
    new ParquetReader.Builder[Group](HadoopInputFile.fromPath(file, conf),
        new HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport: ReadSupport[Group] =
        new GroupReadSupport()
    }.build()
}
