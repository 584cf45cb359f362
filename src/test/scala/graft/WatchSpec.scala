package graft

import org.apache.spark.sql.ListenerProbe
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Fanout
import graft.obs.Watch

/** The observation helper: counts of a known action, idle under
  * overlapping jobs, listeners left as found when the body throws, and
  * a bounded stream's micro-batches. */
class WatchSpec extends AnyFunSuite {
  import TestSession._

  test("a one-stage count of 3 partitions reads 1 job, 1 stage and " +
      "3 tasks, with idle inside the wall") {
    val (n, r) = Watch(spark)(spark.sparkContext.parallelize(1 to 30, 3)
      .count())
    assert(n == 30)
    assert((r.jobs.size, r.stages, r.tasks) == ((1, 1, 3)))
    assert(r.batches == 0 && r.actions.isEmpty)
    assert(r.idleMs >= 0 && r.idleMs <= r.wallMs)
  }

  test("two overlapping jobs through Fanout: idle stays in [0, wall] " +
      "and the busy time is under the sum of the job spans") {
    val (_, r) = Watch(spark)(Fanout.map(2, Seq(0, 1)) { _ =>
      spark.range(0, 2, 1, 2).foreach(_ => Thread.sleep(400))
    })
    assert(r.jobs.size == 2)
    assert(r.idleMs >= 0 && r.idleMs <= r.wallMs)
    val busy = r.wallMs - r.idleMs
    val spans = r.jobs.map(j => j.endMs - j.startMs).sum
    assert(busy >= 400 && busy < spans, s"busy $busy, job spans $spans")
  }

  test("a throwing body leaves every listener list as it was") {
    // streams first: the session's stream manager joins the bus on first use
    def listeners = (spark.streams.listListeners().toSeq,
      ListenerProbe.busListeners(spark), ListenerProbe.queryListeners(spark))
    val before = listeners
    val e = intercept[IllegalStateException] {
      Watch(spark) {
        spark.range(10).count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(listeners == before)
  }

  test("a bounded stream reports one micro-batch per trigger") {
    val dir = java.nio.file.Files.createTempDirectory("graft_watch")
    try {
      (0 until 3).foreach { i =>
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append")
          .parquet(dir.toString)
      }
      val (_, r) = Watch(spark) {
        val q = spark.readStream.schema("id LONG")
          .option("maxFilesPerTrigger", 1).parquet(dir.toString)
          .writeStream.format("noop").trigger(
            org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      }
      assert(r.batches == 3)
    } finally graft.core.Fs.deleteRecursively(dir)
  }
}
