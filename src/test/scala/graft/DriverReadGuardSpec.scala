package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source text that must stay in one place, checked by scanning the
  * main sources: each row names the forbidden text and the only path
  * under `src/main/scala` that may hold it, and a hit anywhere else
  * fails with its file and line.
  *  - Driver-side parquet opens go through `graft.io.ParquetOpen`, which
  *    gives parquet the session's Hadoop conf. Parquet's short forms, or
  *    a fresh `Configuration`, parse the Hadoop XML defaults again on
  *    every open.
  *  - The streaming wrappers' `STREAM` marker is read and written only
  *    by `graft.streaming.ReplayPin`, so the replay protocol has one
  *    implementation. */
class DriverReadGuardSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")

  /** (test name, forbidden texts, the one path allowed to hold them) */
  private val Rules = Seq(
    ("no parquet open or fresh Hadoop Configuration in src/main outside graft/io",
      Seq("ParquetFileReader.open(", "ParquetFileReader.readFooter(", "ParquetReader.builder(",
        "new Configuration("), "graft/io"),
    ("no STREAM marker literal in src/main outside ReplayPin",
      Seq("\"STREAM\""), "graft/streaming/ReplayPin.scala"))

  for ((name, forbidden, allowed) <- Rules)
    test(name) {
      assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
      val home = root.resolve(allowed)
      val hits = java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && !p.startsWith(home))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if forbidden.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
          }
        }.toSeq
      assert(hits.isEmpty, hits.mkString(s"outside $allowed:\n", "\n", ""))
    }
}
