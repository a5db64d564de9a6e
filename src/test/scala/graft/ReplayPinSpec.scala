package graft

import graft.streaming.ReplayPin
import graft.streaming.ReplayPin.{Fresh, Landed, Torn}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/**
 * The replay-pinned micro-batch protocol, tested once on the shared
 * code: [[ReplayPin]] drives a stub family whose version counters live
 * in memory and whose `STREAM` marker is the only file, in a temp dir.
 * No Spark job runs; the session only supplies the Hadoop filesystem.
 */
class ReplayPinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A family of version counters starting at `at`, to which a batch
    * commits `stride` times. */
  private final class Stub(at: Seq[Int], stride: Int = 1) {
    val dir: String = java.nio.file.Files.createTempDirectory("replay_pin").toString
    val versions: Array[Int] = at.toArray
    private val names = at.indices.map(i => s"counter$i version")
    def pin(batchId: Long): ReplayPin.Batch =
      ReplayPin.pin(spark, dir, batchId, stride, names)(versions.toSeq)((_, _) => ())
    def marker: Option[String] =
      graft.operators.VersionedLayout.readMarker(spark, dir, "STREAM")
  }

  test("one counter: first contact pins (batch, base), a fresh batch commits, " +
    "a redelivery reads as landed at the same version") {
    val s = new Stub(Seq(3))
    assert(!ReplayPin.pinned(spark, s.dir))
    val b5 = s.pin(5)
    assert(s.marker.contains("5 3") && ReplayPin.pinned(spark, s.dir))
    assert(b5.landing == Seq(Fresh) && !b5.landed && b5.committed() == 4)
    s.versions(0) = 4 // the batch's commit
    val again = s.pin(5)
    assert(again.landing == Seq(Landed) && again.landed && again.committed() == 4)
    assert(s.marker.contains("5 3"), "a redelivery leaves the pin alone")
    // the next batch owns the next version
    val b6 = s.pin(6)
    assert(b6.landing == Seq(Fresh) && b6.committed() == 5)
  }

  test("stride 2: fresh, torn after the first of the batch's commits, then landed") {
    val s = new Stub(Seq(1), stride = 2)
    assert(s.pin(0).landing == Seq(Fresh))
    s.versions(0) = 2
    val torn = s.pin(0)
    assert(torn.landing == Seq(Torn) && !torn.landed && torn.committed() == 3)
    s.versions(0) = 3
    assert(s.pin(0).landing == Seq(Landed) && s.pin(0).landed)
    val next = s.pin(1)
    assert(next.landing == Seq(Fresh) && next.committed() == 5)
  }

  test("two counters: both fresh, either one-sided state, and both landed") {
    val s = new Stub(Seq(1, 7))
    assert(s.pin(0).landing == Seq(Fresh, Fresh))
    assert(s.marker.contains("0 1 7"))
    s.versions(0) = 2
    assert(s.pin(0).landing == Seq(Landed, Fresh))
    s.versions(0) = 1; s.versions(1) = 8
    val dimOnly = s.pin(0)
    assert(dimOnly.landing == Seq(Fresh, Landed) && !dimOnly.landed)
    assert((dimOnly.committed(0), dimOnly.committed(1)) == ((2, 8)))
    s.versions(0) = 2
    assert(s.pin(0).landed)
  }

  test("a counter outside the batch's versions fails fast, naming every counter's " +
    "found and expected versions") {
    val s = new Stub(Seq(1, 1))
    s.pin(0)
    s.versions(0) = 2; s.versions(1) = 2
    s.pin(1) // fresh batch 1 expects (2, 2) → (3, 3)
    s.versions(1) = 5 // the second counter moved on without the stream
    val e = intercept[IllegalStateException](s.pin(1))
    assert(e.getMessage.contains("disagree") && e.getMessage.contains("one unit of state"))
    assert(e.getMessage.contains("counter0 version 2, expected 2 (fresh) or 3 (committed)"),
      e.getMessage)
    assert(e.getMessage.contains("counter1 version 5, expected 2 (fresh) or 3 (committed)"),
      e.getMessage)
    // a rolled-back counter is the same divergence
    s.versions(1) = 1
    assert(intercept[IllegalStateException](s.pin(1)).getMessage.contains("disagree"))
    // stride 2 names its torn version too
    val t = new Stub(Seq(4), stride = 2)
    t.pin(0)
    t.versions(0) = 9
    assert(intercept[IllegalStateException](t.pin(0)).getMessage
      .contains("version 9, expected 4 (fresh), 5 (torn) or 6 (committed)"))
  }

  test("a batch id before the pinned first batch is a reset checkpoint: refused") {
    val s = new Stub(Seq(2))
    s.pin(10)
    val e = intercept[IllegalArgumentException](s.pin(9))
    assert(e.getMessage.contains("precedes") && e.getMessage.contains("one unit of state"))
    assert(s.marker.contains("10 2"), "the refused batch leaves the pin alone")
  }

  test("deliver hands the rows and batch id to the callback; start refuses a " +
    "retention below the replay window before starting anything") {
    val s = new Stub(Seq(1))
    var got = Option.empty[(DataFrame, Long)]
    val rows = spark.emptyDataFrame
    ReplayPin.pin(spark, s.dir, 4)(Seq(1))((df, id) => got = Some((df, id))).deliver(rows)
    assert(got.contains((rows, 4L)))
    val e = intercept[IllegalArgumentException](
      ReplayPin.start(rows, s"${s.dir}/ckpt", 2, minRetain = 3)((_, _) => ()))
    // (a batch frame has no writeStream, so reaching it would fail otherwise)
    assert(e.getMessage.contains("retainVersions must be >= 3"))
  }
}
