package graft

import java.util.concurrent.{CompletionException, CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Async

/** The bounded driver-thread overlap pool: legs run on named pool threads,
  * nested legs run inline (so a saturated pool cannot deadlock), and a
  * leg's exception surfaces at `join()`. */
class AsyncSpec extends AnyFunSuite {

  private def threadName = Thread.currentThread().getName

  test("a leg runs on a named pool thread") {
    assert(Async.future(threadName).join().startsWith("graft-async-"))
  }

  test("a nested leg completes inline, even with every pool slot busy") {
    val (outer, inner) = Async.future((threadName, Async.future(threadName)
      .join())).join()
    assert(inner === outer)
    // every slot holds a leg that then starts and waits on a nested leg:
    // a nested leg queued for a slot would never run
    val allBusy = new CountDownLatch(Async.PoolSize)
    val legs = (1 to Async.PoolSize).map { i =>
      Async.future {
        allBusy.countDown()
        assert(allBusy.await(30, TimeUnit.SECONDS), "pool slots not all busy")
        Async.future(Async.future(i * 10).join() + 1).join()
      }
    }
    assert(legs.map(_.get(30, TimeUnit.SECONDS)) ===
      (1 to Async.PoolSize).map(_ * 10 + 1))
  }

  test("a leg's exception surfaces at join()") {
    for (nested <- Seq(false, true)) {
      def boom: Int = throw new IllegalStateException("leg failed")
      val f =
        if (nested) Async.future(Async.future(boom).join())
        else Async.future(boom)
      val e = intercept[CompletionException](f.join())
      val root = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq.last
      assert(root.isInstanceOf[IllegalStateException] &&
        root.getMessage === "leg failed", s"nested=$nested: $e")
    }
  }
}
