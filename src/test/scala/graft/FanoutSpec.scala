package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Fanout

class FanoutSpec extends AnyFunSuite {
  import TestSession._

  test("results come back in submission order, not completion order") {
    val out = Fanout.map(4, Seq(300, 200, 100, 0)) { ms =>
      Thread.sleep(ms.toLong)
      ms
    }
    assert(out == Seq(300, 200, 100, 0))
  }

  test("a failure waits for every sibling, then rethrows the first " +
      "failure in submission order") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Fanout.map(3, Seq(0, 1, 2)) {
        case 0 =>
          // the slow sibling: a Spark job still running when both
          // other items have failed
          spark.sparkContext.parallelize(0 until 4, 4)
            .foreach(_ => Thread.sleep(500))
          siblingDone.set(true)
        case 1 =>
          Thread.sleep(100)
          throw new IllegalStateException("first in order")
        case _ =>
          throw new IllegalStateException("first in time")
      }
    }
    assert(e.getMessage == "first in order")
    assert(siblingDone.get, "returned before the sibling finished")
    // the status tracker reads listener events: let them land first
    org.apache.spark.sql.GraftColumnBridge.drainListeners(spark)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }

  test("width 1 runs every item on the calling thread") {
    val caller = Thread.currentThread
    assert(Fanout.map(1, Seq(1, 2, 3))(_ => Thread.currentThread)
      .forall(_ eq caller))
  }
}
