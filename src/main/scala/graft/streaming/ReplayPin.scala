package graft.streaming

import graft.operators.VersionedLayout
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * The replay-pinned micro-batch protocol under the indexed and
 * view-maintaining wrappers in [[Streams]] (README "Streaming replay
 * contract"). Spark's `foreachBatch` delivers a batch at least once,
 * under the same batch id, so a batch is made safe to re-run the way
 * bigslice re-runs a deterministic task: at first contact the stream
 * pins its batch↔version pairing in a `STREAM` marker,
 * `firstBatchId base₀ base₁ …`, one base per version counter of the
 * state it maintains. Batch b then owns versions
 * `baseᵢ + stride·(b − firstB) + 1 … + stride` of each counter, and the
 * counters alone tell whether this delivery is fresh, torn part-way
 * through its commits, or a redelivery of a batch that already
 * committed. Any other reading means the checkpoint and the state
 * drifted apart, and the batch fails before touching either.
 */
private[graft] object ReplayPin {

  private val Marker = "STREAM"

  /** Where one version counter stands against the batch's pinned
    * versions. */
  sealed trait Landing
  /** None of the batch's commits to this counter landed. */
  case object Fresh extends Landing
  /** Some but not all did (only with a stride above 1). */
  case object Torn extends Landing
  /** All of them did: this delivery is a replay for this counter. */
  case object Landed extends Landing

  /** Start `input` through `batch`, one call per micro-batch.
    * `retainVersions` is the `gc` retention of the wrapper, which must
    * keep every version a redelivered batch re-reads. */
  def start(input: DataFrame, checkpointLocation: String, retainVersions: Int,
            minRetain: Int = 2)(batch: (DataFrame, Long) => Unit): StreamingQuery = {
    require(retainVersions >= minRetain, s"retainVersions must be >= $minRetain " +
      s"(a redelivered batch re-reads the versions its commit kept): $retainVersions")
    input.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch((b: Dataset[Row], batchId: Long) => batch(b, batchId))
      .start()
  }

  /** Whether a stream has pinned its pairing at `dir`. */
  def pinned(spark: SparkSession, dir: String): Boolean =
    VersionedLayout.readMarker(spark, dir, Marker).isDefined

  /** One micro-batch placed in its stream's pairing. */
  final class Batch private[ReplayPin] (id: Long, val landing: Seq[Landing],
                                        committedAt: Seq[Int],
                                        on: (DataFrame, Long) => Unit) {
    /** Counter `i`'s version once every commit of this batch landed. */
    def committed(i: Int = 0): Int = committedAt(i)

    /** Every counter landed: re-emit read-only, commit nothing. */
    def landed: Boolean = landing.forall(_ == Landed)

    /** Materialize `rows` (cache and count) before anything else can
      * commit, then [[deliver]] them. */
    def emit(rows: DataFrame): Unit = {
      rows.persist()
      rows.count()
      deliver(rows)
    }

    /** Hand rows their producer already cached and counted to the
      * callback, and release them after: otherwise every batch leaves a
      * cache generation behind. */
    def deliver(rows: DataFrame): Unit =
      try on(rows, id) finally rows.unpersist()
  }

  /**
   * Place `batchId` in the pairing pinned at `dir`, pinning it first
   * if no stream has. `versions` reads the counters (named `counters`
   * in errors) and is read once per batch: at first contact the reading
   * is both the base and the current state. `stride` is the number of
   * commits a batch makes to each counter. Fails with
   * `IllegalArgumentException` for a batch id before the pinned first
   * one (a reset checkpoint), and `IllegalStateException` when a
   * counter is outside the batch's versions.
   */
  def pin(spark: SparkSession, dir: String, batchId: Long, stride: Int = 1,
          counters: Seq[String] = Seq("version"))(versions: => Seq[Int])
         (on: (DataFrame, Long) => Unit): Batch = {
    val (firstB, bases, found) = VersionedLayout.readMarker(spark, dir, Marker) match {
      case Some(s) =>
        val p = s.split(" ")
        (p.head.toLong, p.tail.toSeq.map(_.toInt), versions)
      case None =>
        // first contact, bootstrapped or attached to existing state:
        // pin before any commit. A crash after the marker but before
        // the commit re-reads the same counters on redelivery.
        val v = versions
        VersionedLayout.writeMarker(spark, dir, Marker, (batchId +: v).mkString(" "))
        (batchId, v, v)
    }
    require(batchId >= firstB,
      s"batch id $batchId precedes the first stream batch $firstB pinned at " +
        s"$dir: the stream checkpoint was reset against existing state; " +
        "checkpoint and state are one unit of state (delete both or neither)")
    require(found.size == bases.size && bases.size == counters.size,
      s"$dir pins ${bases.size} counters, the stream reads ${found.size}")
    val off = stride * (batchId - firstB).toInt
    val landing = found.zip(bases).map { case (v, base) =>
      v - base - off match {
        case 0 => Some(Fresh)
        case d if d == stride => Some(Landed)
        case d if d > 0 && d < stride => Some(Torn)
        case _ => None
      }
    }
    if (landing.contains(None)) {
      val seen = counters.lazyZip(found).lazyZip(bases).map { (name, v, base) =>
        val torn = (base + off + 1 until base + off + stride).map(t => s", $t (torn)").mkString
        s"$name $v, expected ${base + off} (fresh)$torn or ${base + off + stride} (committed)"
      }
      throw new IllegalStateException(
        s"state at $dir disagrees with stream batch $batchId: ${seen.mkString("; ")}. " +
          "The stream checkpoint and this state are one unit of state: one was " +
          "deleted or rolled back without the other")
    }
    new Batch(batchId, landing.flatten, bases.map(_ + off + stride), on)
  }
}
