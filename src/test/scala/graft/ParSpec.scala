package graft

import java.util.concurrent.{CountDownLatch, TimeoutException}

import scala.concurrent.duration._

import graft.operators.Par
import org.scalatest.funsuite.AnyFunSuite

/** The shared concurrent-leg runner: results in leg order, the first
  * failure rethrown after every leg finished, and a hung leg failing
  * the call fast with its name. */
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
}
