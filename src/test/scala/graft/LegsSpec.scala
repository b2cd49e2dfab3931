package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** [[Legs.inParallel]]: argument-order results, real overlap, and a failure
  * that surfaces only once every other leg has finished. */
class LegsSpec extends AnyFunSuite {

  test("results come back in argument order, whatever order the legs finish in") {
    val out = Legs.inParallel(
      () => { Thread.sleep(300); "slow" },
      () => { Thread.sleep(100); "medium" },
      () => "fast")
    assert(out === Seq("slow", "medium", "fast"))
    assert(Legs.inParallel[Int]() === Seq.empty)
  }

  test("legs run side by side, not one after another") {
    // each leg waits for the other: run sequentially, the first would
    // time out before the second ever started
    val both = new CountDownLatch(2)
    val met = Legs.inParallel(
      () => { both.countDown(); both.await(10, TimeUnit.SECONDS) },
      () => { both.countDown(); both.await(10, TimeUnit.SECONDS) })
    assert(met === Seq(true, true))
  }

  test("a failing leg rethrows only after every other leg has finished") {
    val slowFinished = new AtomicBoolean(false)
    val boom = new IllegalStateException("leg failed")
    val thrown = intercept[IllegalStateException] {
      Legs.inParallel(
        () => { Thread.sleep(500); slowFinished.set(true); 1 },
        () => throw boom,
        () => throw new IllegalArgumentException("second failure"))
    }
    // the first failure in argument order, unwrapped, with the later one
    // attached; the slow leg's "write" was not left in flight
    assert(thrown eq boom)
    assert(thrown.getSuppressed.map(_.getMessage).toSeq === Seq("second failure"))
    assert(slowFinished.get())
  }
}
