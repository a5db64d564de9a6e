package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-side parquet opens go through `graft.io.ParquetOpen`, which
  * gives parquet the session's Hadoop conf. Parquet's short forms, or a
  * fresh `Configuration`, parse the Hadoop XML defaults again on every
  * open; this scan of the main sources fails with the file and line of
  * any such call outside `graft/io/`. */
class DriverReadGuardSpec extends AnyFunSuite {

  private val Forbidden = Seq("ParquetFileReader.open(", "ParquetFileReader.readFooter(",
    "ParquetReader.builder(", "new Configuration(")

  test("no parquet open or fresh Hadoop Configuration in src/main outside graft/io") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val io = root.resolve("graft/io")
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(io))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if Forbidden.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(hits.isEmpty, hits.mkString("driver-side parquet reads outside graft/io:\n", "\n", ""))
  }
}
