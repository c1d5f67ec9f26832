package graft

import java.util.concurrent.{CompletionException, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Async

/** The bounded driver-thread overlap pool: legs run on named pool threads,
  * nested legs run inline (so a saturated pool cannot deadlock), a leg's
  * exception surfaces at `join()`, and a leg runs under its submitter's
  * Spark local properties. */
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

  test("a leg's jobs carry its submitter's job description, not the pool thread's") {
    val spark = TestSession.spark
    val sc = spark.sparkContext
    val Desc = "spark.job.description"
    /** One leg per pool slot, all running at once, so each slot runs one. */
    def onEverySlot[A](body: => A): Seq[A] = {
      val all = new CountDownLatch(Async.PoolSize)
      (1 to Async.PoolSize).map(_ => Async.future {
        all.countDown()
        assert(all.await(30, TimeUnit.SECONDS), "pool slots not all busy")
        body
      }).map(_.get(60, TimeUnit.SECONDS))
    }
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        seen.add(String.valueOf(j.properties.getProperty(Desc))); ()
      }
    }
    try {
      // a pool thread first created now copies Y as its own properties
      sc.setJobDescription("async-Y")
      onEverySlot(())
      sc.setJobDescription("async-X")
      // drain first, so no earlier job's queued start reaches the listener
      org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(sc)
      sc.addSparkListener(listener)
      val labels = onEverySlot { spark.range(10).count(); sc.getLocalProperty(Desc) }
      assert(labels === Seq.fill(Async.PoolSize)("async-X"))
      org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(sc)
      assert(seen.asScala.toSet === Set("async-X"))
      // no description at the submitter: none in the leg either
      sc.setJobDescription(null)
      assert(onEverySlot(sc.getLocalProperty(Desc)) ===
        Seq.fill(Async.PoolSize)(null))
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
  }
}
