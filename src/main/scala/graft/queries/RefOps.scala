package graft.queries

import graft.{Slice, Tables}
import graft.io.ParquetFooters
import graft.sources.{Cache, Sources}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * One query per reference operator (SURVEY.md §2.1, #1-#18 + auxiliary
 * sources), each with a DuckDB oracle. Conventions for hash-exact
 * oracle parity:
 *  - double aggregation goes through DECIMAL(18,6) (order-independent
 *    exact sum; identical rounding in Spark and DuckDB for |x| < 1e9),
 *    then back to double;
 *  - every computed column is aliased identically on both sides;
 *  - results carry a deterministic ORDER BY on a unique key.
 */
object RefOps {

  /** sum(double) that is order-independent and engine-exact. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 6))).cast("double")
  private def dsumSql(expr: String) =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,6))) AS DOUBLE)"

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // #1 Const (slice.go:212-290): literal table → keyed reduce.
    "op_const" -> { (spark, _) =>
      import spark.implicits._
      val s = Sources.const(spark, 4,
        Seq(("a", 1L), ("b", 2L), ("a", 3L), ("c", 4L), ("b", 5L), ("a", 6L)))
        .select(col("_1").as("k"), col("_2").as("v"))
      s.reduce(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
        .sort(col("k")).df
    },

    // #2 ReaderFunc (slice.go:292-402): one generator per shard,
    // distributed via spark.range(nshard) partitions.
    "op_reader_func" -> { (spark, _) =>
      import spark.implicits._
      Sources.readerFunc(spark, 8) { shard =>
        Iterator.tabulate(1000)(i => (shard, i, shard * 1000L + i))
      }.select(col("_1").as("shard"), col("_2").as("idx"), col("_3").as("v"))
        .sort(col("shard"), col("idx")).df
    },

    // #3 WriterFunc (slice.go:404-548): pass-through sink with side
    // effects; rows flow on unchanged.
    "op_writer_func" -> { (spark, dir) =>
      val acc = spark.sparkContext.longAccumulator("graft_writer_rows")
      Tables.slice(spark, dir, "lineitem")
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .writerFunc { (_, it) => it.map { r => acc.add(1); r } }
        .sort(col("l_orderkey"), col("l_linenumber")).df
    },

    // #4 Map (slice.go:550-638): projection incl. computed columns.
    "op_map" -> { (spark, dir) =>
      Tables.slice(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 6)).cast("double").as("revenue"))
        .sort(col("l_orderkey"), col("l_linenumber")).df
    },

    // #5 Filter (slice.go:640-726): predicate pushed to the parquet scan.
    "op_filter" -> { (spark, dir) =>
      Tables.slice(spark, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .sort(col("l_orderkey"), col("l_linenumber")).df
    },

    // #6 Flatmap (slice.go:728-841): 1:N — wordcount, the reference's
    // own hello-world (docs/index.md).
    "op_flatmap" -> { (spark, dir) =>
      Tables.slice(spark, dir, "documents")
        .select(col("text"))
        .explodeCol(split(col("text"), "\\s+"), "word")
        .filter(length(col("word")) > 0)
        .reduce(count(lit(1)).as("n"))
        .sort(col("word")).df
    },

    // #7 Fold (slice.go:843-955): arbitrary accumulator; sum of squared
    // quantities per supplier. Keys unrestricted (reference limits to
    // string/int/int64, accum.go:28-35; we lift that).
    "op_fold" -> { (spark, dir) =>
      import spark.implicits._
      Tables.slice(spark, dir, "lineitem")
        .select(col("l_suppkey"), col("l_quantity").cast("long").as("q"))
        .fold[Long, Long, Long](0L)((acc, v) => acc + v * v)
        .select(col("l_suppkey"), col("acc"))
        .sort(col("l_suppkey")).df
    },

    // #8 Reduce (reduce.go:42-94): commutative+associative fn over the
    // single value column; Catalyst supplies the map-side combine the
    // reference hand-rolls (exec/combiner.go).
    "op_reduce" -> { (spark, dir) =>
      import spark.implicits._
      Tables.slice(spark, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("total_qty"))
        .reduceF[String, Long](_ + _)
        .sort(col("l_returnflag")).df
    },

    // #9 Cogroup (cogroup.go:46-272): generalized JOIN+GROUP, full-outer
    // with empty groups → empty lists (cogroup.go:244-258).
    "op_cogroup" -> { (spark, dir) =>
      val orders = Tables.slice(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val items = Tables.slice(spark, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity").cast("long").as("q"))
      orders.cogroup(items)
        .select(col("o_orderkey"),
          size(col("g0")).cast("long").as("n_orders"),
          size(col("g1")).cast("long").as("n_items"),
          aggregate(col("g1"), lit(0L), (a, x) => a + x).as("sum_qty"))
        .sort(col("o_orderkey")).df
    },

    // #10 Reshuffle (reshuffle.go:24-88): colocate equal keys, then a
    // narrow per-key count proves content is preserved.
    "op_reshuffle" -> { (spark, dir) =>
      Tables.slice(spark, dir, "lineitem")
        .select(col("l_suppkey"), col("l_quantity").cast("long").as("q"))
        .reshuffle()
        .reduce(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
        .sort(col("l_suppkey")).df
    },

    // #11 Repartition (reshuffle.go:44-76): user function assigns the
    // exact shard id (RDD partitioner hop), rows preserved.
    "op_repartition" -> { (spark, dir) =>
      Tables.slice(spark, dir, "events")
        .select(col("user_id"), col("event_type"))
        .repartitionF(16)(r => (r.getLong(0) % 16).toInt)
        .prefixed(2)
        .reduce(count(lit(1)).as("n"))
        .sort(col("user_id"), col("event_type")).df
    },

    // #12 Reshard (reshard.go:15-45): pin shard count; content invariant.
    "op_reshard" -> { (spark, dir) =>
      Tables.slice(spark, dir, "lineitem")
        .reshard(8)
        .select(col("l_linestatus"))
        .reduce(count(lit(1)).as("n"))
        .sort(col("l_linestatus")).df
    },

    // #13 Head (slice.go:957-994): per-SHARD limit. Pinned to one sorted
    // shard so the result is deterministic (= global top-n here).
    "op_head" -> { (spark, dir) =>
      val s = Tables.slice(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      Slice(s.df.coalesce(1).sortWithinPartitions("o_orderkey"))
        .head(10).df
    },

    // #14 Scan (slice.go:996-1032): consume each shard for side effects;
    // the observable result is the accumulated row count.
    "op_scan" -> { (spark, dir) =>
      import spark.implicits._
      val acc = spark.sparkContext.longAccumulator("graft_scan_rows")
      Tables.slice(spark, dir, "lineitem").scan((_, it) => it.foreach(_ => acc.add(1)))
      Seq(acc.value.toLong).toDF("n_rows")
    },

    // #15 Prefixed (slice.go:1034-1056): widen the key to 2 columns.
    "op_prefixed" -> { (spark, dir) =>
      Tables.slice(spark, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity").cast("long").as("q"))
        .prefixed(2)
        .reduce(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
        .sort(col("l_returnflag"), col("l_linestatus")).df
    },

    // #16 Cache (cache.go:32-49): materialize + read-back short-circuit.
    "op_cache" -> { (spark, dir) =>
      val filtered = Tables.slice(spark, dir, "lineitem")
        .filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_quantity").cast("long").as("q"))
      Cache.cache(filtered, tmpDir("cache") + "/c")
        .reduce(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
        .sort(col("l_orderkey")).df
    },

    // #17 CachePartial (cache.go:51-66): per-shard reuse; first run
    // writes all shards, result equals the uncached computation.
    "op_cache_partial" -> { (spark, dir) =>
      val sup = Tables.slice(spark, dir, "supplier")
        .select(col("s_nationkey"), col("s_acctbal"))
      Cache.cachePartial(sup, tmpDir("cachep"))
        .reduce(count(lit(1)).as("n"), dsum(col("s_acctbal")).as("sum_bal"))
        .sort(col("s_nationkey")).df
    },

    // #18 ReadCache (cache.go:86-95): read-only view of a cache.
    "op_read_cache" -> { (spark, dir) =>
      val d = tmpDir("readcache") + "/r"
      Cache.cache(Tables.slice(spark, dir, "region"), d)
      Cache.readCache(spark, d)
        .select(col("r_regionkey"), col("r_name"))
        .sort(col("r_regionkey")).df
    },

    // aux: ScanReader (scan.go:22-69) — text lines source.
    "op_scan_reader" -> { (spark, _) =>
      val f = java.nio.file.Paths.get(tmpDir("text"), "lines.txt")
      java.nio.file.Files.write(f,
        (0 until 1000).map(_.toString).mkString("\n").getBytes)
      Sources.scanReader(spark, f.toString)
        .select(col("value").cast("long").as("i"))
        .sort(col("i")).df
    },

    // aux: CSV source + domain-counts pipeline — the reference's GDELT
    // demo shape (cmd/urls/urls.go:37-96): CSV → extract domain →
    // Reduce(+). Input synthesized deterministically.
    "op_csv_pipeline" -> { (spark, _) =>
      val f = java.nio.file.Paths.get(tmpDir("csv"), "urls.csv")
      val rows = (0 until 2000).map(i =>
        s"$i,http://host${i % 7}.example.com/page/$i")
      java.nio.file.Files.write(f,
        ("id,url" +: rows).mkString("\n").getBytes)
      Sources.readCsv(spark, f.toString)
        .select(regexp_extract(col("url"), "https?://([^/]+)/", 1).as("domain"))
        .reduce(count(lit(1)).as("n"))
        .sort(col("domain")).df
    },

    // aux: JSON-lines source.
    "op_json_source" -> { (spark, _) =>
      val f = java.nio.file.Paths.get(tmpDir("json"), "rows.json")
      val rows = (0 until 500).map(i =>
        s"""{"k":"g${i % 5}","v":$i}""")
      java.nio.file.Files.write(f, rows.mkString("\n").getBytes)
      Sources.readJson(spark, f.toString)
        .select(col("k"), col("v"))
        .prefixed(1)
        .reduce(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
        .sort(col("k")).df
    },

    // aux: ORC sink + source roundtrip — the second columnar format
    // (Spark ships the ORC reader/writer with the same predicate
    // pushdown / column pruning surface as parquet), so catalogs mixing
    // formats stay one `spark.read` away. Aggregate over the roundtrip
    // == aggregate over the parquet original (the oracle).
    "op_orc_roundtrip" -> { (spark, dir) =>
      val out = tmpDir("orc") + "/docs"
      graft.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").orc(out)
      spark.read.orc(out)
        .filter(col("n_chars") > 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    },

    // aux: tarslice.Reader (archive/tarslice/tarslice.go:29-74).
    "op_read_tar" -> { (spark, _) =>
      val dir = tmpDir("tar")
      val tarPath = java.nio.file.Paths.get(dir, "data.tar")
      val out = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(
        java.nio.file.Files.newOutputStream(tarPath))
      for (i <- 0 until 5) {
        val body = s"entry-$i-" + ("x" * (i * 10))
        val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry(s"f$i.txt")
        e.setSize(body.length.toLong)
        out.putArchiveEntry(e)
        out.write(body.getBytes)
        out.closeArchiveEntry()
      }
      out.close()
      Sources.readTar(spark, tarPath.toString)
        .select(col("name"), col("size"),
          length(col("body").cast("string")).cast("long").as("body_len"))
        .sort(col("name")).df
    },

    // Tar shard sink (WebDataset-style export; write-side complement of
    // tarslice — the reference has no archive writer). Round-trip: the
    // documents corpus is packed into per-partition tar shards, read
    // back with the streaming tar source, and digest-audited per
    // bucket — any lost/truncated/renamed entry breaks the md5 extrema
    // or the counts vs the oracle computed directly on the table.
    "op_write_tar" -> { (spark, dir) =>
      val docs = ParquetFooters.read(spark, s"$dir/documents.parquet")
      val outDir = tmpDir("tarw")
      val payload = docs.select(
        concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
        col("text").cast("binary").as("body"))
        .repartition(8, col("doc_id"))
      Sources.writeTar(payload, outDir, "name", "body")
      Sources.readTar(spark, s"$outDir/shard-*.tar").df
        .select(
          regexp_replace(col("name"), "\\.txt$", "").cast("long").as("doc_id"),
          col("body").cast("string").as("text"))
        .groupBy((col("doc_id") % 8).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("text"))).cast("long").as("chars"),
          min(md5(col("text").cast("binary"))).as("h_min"),
          max(md5(col("text").cast("binary"))).as("h_max"))
        .sort(col("bucket"))
    },

    // JSONL round-trip (the LLM-pipeline interchange format): write the
    // corpus as JSON lines, read back with a pinned schema, digest-audit
    // per bucket — escaping bugs (quotes, control chars) or dropped
    // rows break the md5 extrema vs the oracle on the source table.
    "op_write_jsonl" -> { (spark, dir) =>
      val docs = ParquetFooters.read(spark, s"$dir/documents.parquet")
      val out = tmpDir("jsonl")
      docs.select("doc_id", "text", "lang")
        .write.mode("overwrite").json(out)
      spark.read.schema("doc_id LONG, text STRING, lang STRING").json(out)
        .groupBy((col("doc_id") % 7).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("text"))).cast("long").as("chars"),
          min(md5(col("text").cast("binary"))).as("h_min"),
          max(md5(col("text").cast("binary"))).as("h_max"),
          countDistinct(col("lang")).as("n_lang"))
        .sort(col("bucket"))
    }
  )

  val oracleSql: Map[String, String] = Map(
    "op_const" ->
      """SELECT k, CAST(SUM(v) AS BIGINT) AS sum_v, COUNT(*) AS n
        |FROM (VALUES ('a', 1), ('b', 2), ('a', 3), ('c', 4), ('b', 5), ('a', 6)) AS t(k, v)
        |GROUP BY k ORDER BY k""".stripMargin,
    "op_reader_func" ->
      """SELECT s.range AS shard, i.range AS idx, s.range * 1000 + i.range AS v
        |FROM range(8) s, range(1000) i ORDER BY shard, idx""".stripMargin,
    "op_writer_func" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "op_map" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS DOUBLE) AS revenue
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "op_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "op_flatmap" ->
      """SELECT w AS word, COUNT(*) AS n
        |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents)
        |WHERE len(w) > 0 GROUP BY w ORDER BY word""".stripMargin,
    "op_fold" ->
      """SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS acc
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "op_reduce" ->
      """SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "op_cogroup" ->
      """WITH og AS (SELECT o_orderkey AS k, COUNT(*) AS n_orders FROM orders GROUP BY 1),
        |     lg AS (SELECT l_orderkey AS k, COUNT(*) AS n_items,
        |                   SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
        |            FROM lineitem GROUP BY 1)
        |SELECT COALESCE(og.k, lg.k) AS o_orderkey,
        |       COALESCE(n_orders, 0) AS n_orders,
        |       COALESCE(n_items, 0) AS n_items,
        |       CAST(COALESCE(sum_qty, 0) AS BIGINT) AS sum_qty
        |FROM og FULL OUTER JOIN lg ON og.k = lg.k
        |ORDER BY o_orderkey""".stripMargin,
    "op_reshuffle" ->
      """SELECT l_suppkey, COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "op_repartition" ->
      """SELECT user_id, event_type, COUNT(*) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    "op_reshard" ->
      """SELECT l_linestatus, COUNT(*) AS n FROM lineitem
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "op_head" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 10""".stripMargin,
    "op_scan" -> "SELECT COUNT(*) AS n_rows FROM lineitem",
    "op_prefixed" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "op_cache" ->
      """SELECT l_orderkey, COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q
        |FROM lineitem WHERE l_returnflag = 'A'
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "op_cache_partial" ->
      s"""SELECT s_nationkey, COUNT(*) AS n, ${dsumSql("s_acctbal")} AS sum_bal
         |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "op_read_cache" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "op_scan_reader" ->
      "SELECT range AS i FROM range(1000) ORDER BY i",
    "op_csv_pipeline" ->
      """SELECT 'host' || CAST(range % 7 AS VARCHAR) || '.example.com' AS domain,
        |  COUNT(*) AS n
        |FROM range(2000) GROUP BY 1 ORDER BY domain""".stripMargin,
    "op_json_source" ->
      """SELECT 'g' || CAST(range % 5 AS VARCHAR) AS k,
        |  CAST(SUM(range) AS BIGINT) AS sum_v, COUNT(*) AS n
        |FROM range(500) GROUP BY 1 ORDER BY k""".stripMargin,
    "op_orc_roundtrip" ->
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE n_chars > 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "op_read_tar" ->
      """SELECT name, size, body_len FROM (VALUES
        |  ('f0.txt', 8, 8), ('f1.txt', 18, 18), ('f2.txt', 28, 28),
        |  ('f3.txt', 38, 38), ('f4.txt', 48, 48)) AS t(name, size, body_len)
        |ORDER BY name""".stripMargin,
    "op_write_tar" ->
      """SELECT doc_id % 8 AS bucket, COUNT(*) AS n,
        |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
        |       MIN(md5(text)) AS h_min, MAX(md5(text)) AS h_max
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,
    "op_write_jsonl" ->
      """SELECT doc_id % 7 AS bucket, COUNT(*) AS n,
        |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
        |       MIN(md5(text)) AS h_min, MAX(md5(text)) AS h_max,
        |       COUNT(DISTINCT lang) AS n_lang
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin
  )
}
