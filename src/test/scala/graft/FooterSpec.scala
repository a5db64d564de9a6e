package graft

import graft.io.ParquetFooters
import graft.operators.{IvfIndex, TermIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * [[ParquetFooters]] against the Spark calls it replaces: the schema of
 * a read equals `spark.read.parquet(dir).schema` and the footer count
 * equals `count()`, for every corpus table and for one table of each
 * persisted shape; a path with no data file fails exactly as before.
 */
class FooterSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def dataFiles(path: String): Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(path)
    ParquetFooters.dataFiles(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def sameAsSpark(path: String): Unit = {
    assert(dataFiles(path).nonEmpty, s"$path: no data file found")
    val inferred = spark.read.parquet(path)
    assert(ParquetFooters.read(spark, path).schema == inferred.schema, path)
    assert(ParquetFooters.count(spark, path) == inferred.count(), path)
  }

  /** The first directory under `root` (sorted) that `pick` accepts. */
  private def under(root: String)(pick: java.nio.file.Path => Boolean): String = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.filter(p => java.nio.file.Files.isDirectory(p) && pick(p)).sorted()
      .findFirst().get.toString
    finally s.close()
  }

  test("every corpus table: schema and count from the footer == Spark's") {
    val conf = spark.conf
    val keys = Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled")
    val saved = keys.map(k => k -> conf.getOption(k))
    try for (nanos <- Seq("true", "false"); ntz <- Seq("true", "false")) {
      // the session conf decides the types of footers Spark did not write
      conf.set(keys(0), nanos)
      conf.set(keys(1), ntz)
      Tables.names.foreach(t => sameAsSpark(s"$sf/$t.parquet"))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("index tables: a partitioned IvfIndex segment, a TermIndex bkt= " +
    "segment and an empty tombstone set") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val ivf = s"${tmp("footer_ivf")}/idx"
    IvfIndex.build(spark, emb, "doc_id", "embedding", ivf,
      IvfIndex.Config(dim = 64, nList = 8, iters = 2))
    // deleting nothing writes a tombstone set with no rows
    IvfIndex.delete(spark, ivf, emb.select("doc_id").limit(0), "doc_id")
    val term = s"${tmp("footer_term")}/idx"
    TermIndex.build(spark, docs, "doc_id", "text", term, TermIndex.Config(buckets = 4))
    val seg = under(s"$ivf/segments")(p => p.getFileName.toString.startsWith("list_id="))
      .replaceAll("/list_id=[^/]*$", "")
    val tf = under(s"$term/segments")(_.getFileName.toString == "tf")
    val tomb = under(s"$ivf/tombs")(_.getParent.getFileName.toString == "tombs")
    assert(spark.read.parquet(seg).columns.contains("list_id"))
    assert(spark.read.parquet(tf).columns.contains("bkt"))
    assert(spark.read.parquet(tomb).isEmpty)
    Seq(seg, tf, tomb).foreach(sameAsSpark)
  }

  test("a path with no data file fails exactly as spark.read.parquet does") {
    val empty = tmp("footer_empty")
    // only metadata: a marker and a hidden file
    java.nio.file.Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(empty, ".hidden"))
    val missing = s"$empty/missing"
    def failure(f: => Any): (Class[_], String) = {
      val e = intercept[Exception](f)
      (e.getClass, e.getMessage)
    }
    assert(dataFiles(empty).isEmpty)
    for (p <- Seq(empty, missing)) {
      val want = failure(spark.read.parquet(p))
      assert(failure(ParquetFooters.read(spark, p)) == want, p)
      assert(failure(ParquetFooters.count(spark, p)) == want, p)
    }
  }
}
