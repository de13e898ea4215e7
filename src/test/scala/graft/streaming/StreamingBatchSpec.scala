package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.etl._

/** The streaming form of the loop treats a micro-batch as the batch: a
  * file's events are offered exactly once, so every one of them must get
  * its verdict in that batch — a cap would strand the rest in status N
  * for good.
  */
class StreamingBatchSpec extends AnyFunSuite {
  test("a 150-event micro-batch gets 150 verdicts") {
    val spark = TestSpark.spark
    val world = new CdcFixtures.World(11, 200)
    val conf = CdcFixtures.conf(0)
    val snap0 = world.initialSnapshot(spark, conf).localCheckpoint(true)
    val events = world.eventRows(150)
    val users = world.users(spark).localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft-evbatch")
    java.nio.file.Files.writeString(dir.resolve("events.csv"),
      CdcFixtures.eventsCsv(events))
    val verdicts = new java.util.concurrent.atomic.AtomicLong(0)
    val (q, _) = CdcStream.startStreaming(spark, snap0, () => users,
      dir.toString, conf, onCycle = r => verdicts.addAndGet(r.eventUpdates.count()))
    try q.processAllAvailable()
    finally q.stop()
    assert(verdicts.get() == 150, s"expected 150 verdicts, got $verdicts")
  }
}
