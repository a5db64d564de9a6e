package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.TimeUnit

import graft.operators.{DigestIndex, Ivm, IvfIndex, MinhashIndex, TermIndex}
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

/**
 * Persisted reads and writes start no process. Hadoop's local
 * filesystem, without its native library, runs `chmod`, `ls -ld` and
 * `readlink` for permissions, statuses and links; `graft.io.LocalFs`
 * does them in-process.
 *
 * Hadoop caches `FileSystem` instances per JVM, so the first session a
 * JVM starts decides the class for all later ones. The check therefore
 * runs in a child JVM ([[ForkFree]]) whose only session is
 * `GraftSession.local`, with logging stand-ins for `chmod`, `ls`,
 * `readlink` and `stat` first on its `PATH`.
 */
class ForkFreeSpec extends AnyFunSuite {

  test("GraftSession.local: four index families and a view stream fork no " +
    "chmod/ls/readlink/stat") {
    val work = Files.createTempDirectory("fork_free")
    val stubs = Files.createDirectories(work.resolve("bin"))
    val log = work.resolve("forks.log")
    Files.createFile(log)
    val path = sys.env.getOrElse("PATH", "/usr/bin:/bin")
    for (cmd <- Seq("chmod", "ls", "readlink", "stat")) {
      val real = path.split(":").map(Paths.get(_, cmd)).find(Files.isExecutable)
      val stub = stubs.resolve(cmd)
      Files.writeString(stub, "#!/bin/sh\n" +
        s"""echo "$cmd $$*" >> "$log"\n""" +
        real.fold("exit 1\n")(r => s"""exec "$r" "$$@"\n"""))
      stub.toFile.setExecutable(true)
    }
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    // Spark on JDK 17 needs the parent's --add-opens flags
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(_.startsWith("--add-opens")).toSeq
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.ForkFree", "/root/testdata/sf0.001", work.resolve("state").toString)
    val out = work.resolve("child.log")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(out.toFile)
    pb.environment().put("PATH", s"$stubs:$path")
    val p = pb.start()
    val done = p.waitFor(300, TimeUnit.SECONDS)
    if (!done) p.destroyForcibly()
    val childLog = Files.readString(out)
    assert(done && p.exitValue() == 0, s"child JVM failed:\n$childLog")
    val m = "FORKFREE fs=(\\S+) fc=(\\S+)".r.findFirstMatchIn(childLog)
    assert(m.isDefined, s"no FORKFREE line:\n$childLog")
    val forks = Files.readAllLines(log)
    assert(forks.isEmpty, s"${forks.size} processes started, first: " +
      forks.toArray.take(5).mkString("; "))
    assert(m.get.group(1) == "graft.io.LocalFs")
    assert(m.get.group(2) == "graft.io.LocalFs$Context")
  }
}

/** Child-JVM body of [[ForkFreeSpec]]: on `GraftSession.local`, build,
  * apply one CDC batch to, gc and probe each index family, and run one
  * `Streams.cdcViewStream` micro-batch; then print the classes of the
  * `file:` filesystem as `FORKFREE fs=<FileSystem> fc=<FileContext's>`. */
object ForkFree {
  def main(args: Array[String]): Unit = {
    val Array(sf, dir) = args
    val spark = GraftSession.local(2)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val base = col("doc_id") < 450
    val ups = col("doc_id") >= 450 || col("doc_id") % 19 === 0
    val text = docs.filter(ups)
    val dels = docs.filter(col("doc_id") % 17 === 1).select("doc_id")
    val probes = docs.filter(col("doc_id") % 41 === 5)
      .select((col("doc_id") + 9000000L).as("doc_id"), col("text"))
    val tCfg = TermIndex.Config(buckets = 4)
    val iCfg = IvfIndex.Config(dim = 64, nList = 8, iters = 2)

    DigestIndex.build(spark, docs.filter(base), "doc_id", "text", s"$dir/digest")
      .unpersist()
    DigestIndex.applyCdc(spark, s"$dir/digest", text, dels, "doc_id", "text")
      .unpersist()
    DigestIndex.gc(spark, s"$dir/digest", 2)
    DigestIndex.dupPairs(spark, s"$dir/digest", text, "doc_id", "text").collect()

    MinhashIndex.build(spark, docs.filter(base), "doc_id", "text", s"$dir/minhash")
    MinhashIndex.deleteFromIndex(spark, s"$dir/minhash",
      dels.unionByName(text.select("doc_id")), "doc_id")
    MinhashIndex.ingest(spark, s"$dir/minhash", text, "doc_id", "text").unpersist()
    MinhashIndex.gc(spark, s"$dir/minhash", 3)
    MinhashIndex.incrementalDupPairs(spark, s"$dir/minhash", probes, "doc_id", "text")
      .collect()

    TermIndex.build(spark, docs.filter(base), "doc_id", "text", s"$dir/term", tCfg)
    TermIndex.applyCdc(spark, s"$dir/term", text, dels, "doc_id", "text", tCfg)
    TermIndex.gc(spark, s"$dir/term", 2)
    TermIndex.topK(spark, s"$dir/term", probes, "doc_id", "text", 5, tCfg).collect()

    IvfIndex.build(spark, emb.filter(base), "doc_id", "embedding", s"$dir/ivf", iCfg)
    IvfIndex.applyCdc(spark, s"$dir/ivf", emb.filter(ups), dels, "doc_id",
      "embedding", iCfg)
    IvfIndex.gc(spark, s"$dir/ivf", 2)
    IvfIndex.topK(spark, s"$dir/ivf", emb.filter(col("doc_id") % 41 === 5),
      "doc_id", "embedding", 5).collect()

    // one micro-batch of a stream-maintained view: its checkpoint goes
    // through FileContext
    val rows: DataFrame = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("n_chars"))
    val spec = Ivm.Spec(Seq("lang"), Seq(Ivm.Count("cnt"), Ivm.Sum("n_chars", "chars")))
    Ivm.create(spark, s"$dir/view", rows.schema, spec, nBuckets = 4)
    Ivm.applyDelta(spark, s"$dir/view", rows.filter(base), rows.limit(0))
    val in = Files.createDirectories(Paths.get(s"$dir/in"))
    val staged = s"$dir/staged"
    rows.filter(!base).withColumn("op", lit("insert")).coalesce(1)
      .write.parquet(staged)
    val events = spark.readStream.schema(rows.schema.add("op", StringType))
      .parquet(in.toString)
    val query = graft.streaming.Streams.cdcViewStream(events, "op", s"$dir/view",
      s"$dir/checkpoint") { (touched, _) => touched.collect(); () }
    val file: Path = Files.list(Paths.get(staged)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(file, in.resolve("00000.parquet"), StandardCopyOption.ATOMIC_MOVE)
    // a trigger that listed just before the move saw nothing: wait for
    // the micro-batch that read the file
    val until = System.nanoTime + 120L * 1000000000L
    while (!query.recentProgress.exists(_.numInputRows > 0) && System.nanoTime < until)
      query.processAllAvailable()
    query.stop()
    val n = Ivm.readView(spark, s"$dir/view").agg(sum("cnt")).head().getLong(0)
    require(n == rows.count(), s"view holds $n rows")

    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI("file:///"), conf).getClass.getName
    val fc = AbstractFileSystem.get(new java.net.URI("file:///"), conf).getClass.getName
    println(s"FORKFREE fs=$fs fc=$fc")
    spark.stop()
  }
}
