package graft

import java.util.concurrent.{CountDownLatch, TimeoutException}

import scala.concurrent.duration._

import graft.operators.Par
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The shared concurrent-leg runner: results in leg order, the first
  * failure rethrown after every leg finished, a hung leg failing the
  * call fast with its name, and legs running under the caller's Spark
  * context. */
class ParSpec extends AnyFunSuite {

  test("Par.all: results in leg order; the first failure is rethrown after all legs finish") {
    assert(Par.all(Seq("a" -> (() => 1), "b" -> (() => 2))) == Seq(1, 2))
    val slowDone = new CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      Par.par2("fails", throw new IllegalStateException("boom"),
        "slow", { Thread.sleep(200); slowDone.countDown() })
    }
    assert(e.getMessage == "boom")
    assert(slowDone.getCount == 0, "the call returned before every leg ended")
  }

  test("Par.all: a hung leg fails fast with a timeout naming it, not the finished legs") {
    assert(Par.DefaultTimeout <= 15.minutes, Par.DefaultTimeout)
    val release = new CountDownLatch(1)
    try {
      val t0 = System.nanoTime()
      val e = intercept[TimeoutException] {
        Par.all(Seq(
          "quick commit" -> (() => ()),
          "hung view stage" -> (() => release.await())), timeout = 500.millis)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 5, s"took $secs s")
      assert(e.getMessage.contains("'hung view stage'"), e.getMessage)
      assert(!e.getMessage.contains("'quick commit'"), e.getMessage)
    } finally release.countDown()
  }

  test("Par.all: a leg's jobs carry the current caller's job group, also on a pooled thread an earlier caller used") {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    // each caller runs on a thread of its own, under its own job group;
    // its eight legs wait for each other, so they hold eight pool
    // threads at once, and the second caller's legs reuse the first's
    val width = 8
    def call(group: String): (Set[String], Seq[String]) = {
      var threads = Set.empty[String]
      val caller = new Thread(() => {
        sc.setJobGroup(group, s"caller $group")
        val ready = new java.util.concurrent.CyclicBarrier(width)
        threads = Par.all((1 to width).map(i => s"leg $i" -> (() => {
          ready.await()
          sc.parallelize(Seq(i), 1).count()
          Thread.currentThread.getName
        }))).toSet
      })
      caller.start()
      caller.join()
      org.apache.spark.graft.ListenerDrain(sc)
      val seen = Seq.fill(groups.size)(groups.poll())
      (threads, seen)
    }
    sc.addSparkListener(listener)
    try {
      val (firstThreads, firstGroups) = call("caller-a")
      val (secondThreads, secondGroups) = call("caller-b")
      assert(firstThreads.intersect(secondThreads).nonEmpty,
        s"no pool thread served both callers: $firstThreads, $secondThreads")
      assert(firstGroups == Seq.fill(width)("caller-a"), firstGroups)
      assert(secondGroups == Seq.fill(width)("caller-b"), secondGroups)
    } finally sc.removeSparkListener(listener)
  }
}
