package graft.operators

import graft.io.{ParquetFooters, ParquetOpen}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/**
 * Driver-side cache of immutable index segments and tombstone sets —
 * the probe snapshots of [[TermIndex]] and of the exact [[IvfIndex]].
 *
 * A committed segment never changes: it is written once under a name
 * no later commit reuses, and only the family's `gc` deletes it. So a
 * probe at any version can be assembled from per-segment entries that
 * were loaded once, for the first version that listed them, and
 * reused by every later version that still lists them. A CDC stream
 * that commits one version per batch then loads only the one new
 * segment and tombstone set per family for its next probe.
 *
 * Key: the segment's qualified path plus the names of its data files,
 * from one recursive driver listing per probe. Parquet part names
 * carry a per-write UUID, so a directory deleted and rewritten at the
 * same path lists under a new key and never serves stale rows.
 *
 * Eviction: the families' `gc` drops the entries of the directories it
 * deletes ([[dropUnder]]); past [[MaxBytes]] (by each loader's own
 * estimate) the least recently used entries go. An entry larger than
 * the bound is used for the probe that loaded it but not kept.
 */
private[graft] object SegmentCache {

  /** Heap bound of all cached entries, by the loaders' estimates. */
  private val MaxBytes = 128L << 20

  final case class Key(path: String, files: Seq[String])

  private final class Entry(val value: AnyRef, val bytes: Long)

  // access-ordered: iteration starts at the least recently used entry
  private val entries =
    new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var totalBytes = 0L

  /** The key of the directory `dir`: its qualified path and the
    * relative names of the data files under it, as Spark would list
    * them ([[ParquetFooters.dataFiles]]). Fails when `dir` is missing —
    * a manifest never names a directory that is gone. */
  def keyOf(f: FileSystem, dir: String): Key = {
    val root = f.makeQualified(new Path(dir))
    val prefix = root.toString.length + 1
    Key(root.toString, ParquetFooters.dataFiles(f, root).map(_.toString.substring(prefix)))
  }

  /** The cached value for `key`, or `load()`'s, which is then cached
    * when it fits. `load` returns the value and its estimated heap
    * bytes. Concurrent misses on one key may both load; the first
    * insert wins and both callers get equal values. */
  def getOrLoad[T <: AnyRef](key: Key)(load: => (T, Long)): T = {
    val hit = synchronized(Option(entries.get(key)))
    hit.map(_.value.asInstanceOf[T]).getOrElse {
      val (v, bytes) = load
      synchronized {
        if (bytes <= MaxBytes && !entries.containsKey(key)) {
          entries.put(key, new Entry(v, bytes))
          totalBytes += bytes
          val it = entries.values().iterator()
          while (totalBytes > MaxBytes && it.hasNext) {
            totalBytes -= it.next().bytes
            it.remove()
          }
        }
      }
      v
    }
  }

  /** Drop every entry at or under `dir` — called by `gc` for each
    * segment or tombstone directory it deletes. */
  def dropUnder(f: FileSystem, dir: Path): Unit = {
    val p = f.makeQualified(dir).toString
    synchronized {
      val it = entries.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.path == p || e.getKey.path.startsWith(p + "/")) {
          totalBytes -= e.getValue.bytes
          it.remove()
        }
      }
    }
  }

  /** Per-key max over tombstone masks (key → sequence): a row is
    * masked iff some tombstone of its key has a greater sequence, so
    * the max over a version's tombstone sets decides. */
  def maxMerge[K](masks: Seq[Map[K, Int]]): Map[K, Int] =
    masks.foldLeft(Map.empty[K, Int]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (key, q)) =>
        a.updated(key, a.get(key).fold(q)(math.max(_, q)))
      }
    }

  /** Estimated heap bytes of all cached entries. */
  def cachedBytes: Long = synchronized(totalBytes)

  /** Calls `f` with each row of `key`'s data files, read in the
    * driver (no Spark job): one array per row holding `cols` in order —
    * a Long for an integral column, a String, an Array[Float] for
    * ARRAY<FLOAT> (a null element reads as 0, as Spark's float kernels
    * see it), or null. A column the files do not hold is the file's
    * `col=value` partition directory value. Callers pass the types the
    * files were written with ([[ParquetFooters.fileSchema]], or the
    * family's fixed schema), and fold each row into their compact entry as it comes:
    * a segment's boxed rows are never all live at once. */
  def foreachRow(spark: SparkSession, key: Key, cols: Seq[StructField])
                (f: Array[Any] => Unit): Unit = {
    import org.apache.parquet.example.data.Group
    val conf = spark.sparkContext.hadoopConfiguration
    def value(g: Group, c: StructField): Any =
      if (g.getFieldRepetitionCount(c.name) == 0) null
      else c.dataType match {
        case LongType => g.getLong(c.name, 0)
        case ByteType | ShortType | IntegerType =>
          g.getInteger(c.name, 0).toLong
        case StringType => g.getString(c.name, 0)
        case ArrayType(FloatType, _) =>
          // three-level LIST (group list { element }), or the legacy
          // two-level form with the element repeated directly
          val l = g.getGroup(c.name, 0)
          Array.tabulate(l.getFieldRepetitionCount(0)) { i =>
            if (l.getType.getType(0).isPrimitive) l.getFloat(0, i)
            else {
              val e = l.getGroup(0, i)
              if (e.getFieldRepetitionCount(0) == 0) 0f else e.getFloat(0, 0)
            }
          }
        case t => throw new IllegalArgumentException(
          s"no driver read for ${c.name}: $t")
      }
    key.files.foreach { name =>
      val parts = name.split("/").dropRight(1).flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap
      val r = ParquetOpen.groups(conf, new Path(s"${key.path}/$name"))
      try {
        var g = r.read()
        while (g != null) {
          f(cols.map { c =>
            if (g.getType.containsField(c.name)) value(g, c)
            else parts.get(c.name)
              .filter(_ != "__HIVE_DEFAULT_PARTITION__")
              .map(v => v.toLong: Any).orNull
          }.toArray)
          g = r.read()
        }
      } finally r.close()
    }
  }
}
