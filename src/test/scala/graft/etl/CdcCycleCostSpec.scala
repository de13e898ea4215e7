package graft.etl

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.CdcStream

/** The capped cycle's cost follows the batch, not the snapshot: one poll
  * cycle over a ≥10k-entry tree runs at most 8 Spark jobs and writes no
  * shuffle bytes, and cycle after cycle the committed snapshot keeps the
  * partition count it had after the load (the commit's union of added
  * entries is coalesced back).
  */
class CdcCycleCostSpec extends AnyFunSuite {

  /** Jobs and shuffle bytes of the work submitted under `tag`. */
  private final class Cost(tag: String) extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(Cost.Key) == tag)) {
        jobs.incrementAndGet()
        e.stageIds.foreach(stages.add)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stages.contains(e.stageInfo.stageId))
        shuffleBytes.addAndGet(
          e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }
  private object Cost { val Key = "graft.spec.cost" }

  test("a capped cycle over a 10k-entry tree: <= 8 jobs, no shuffle, stable partitions") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val world = new CdcFixtures.World(5, 10000)
    val conf = CdcFixtures.conf(0)
    val snap0 = world.initialSnapshot(spark, conf).localCheckpoint(true)
    assert(snap0.count() >= 10000)
    val parts = snap0.rdd.getNumPartitions
    var users = world.users(spark).localCheckpoint(true)
    var st = CdcStream.LoopState(snap0,
      Map("postgres" -> CdcFixtures.emptyEventlog(spark)), 0, 0)
    def offer(n: Int): Unit = {
      val ev = world.events(spark, n)
      users = world.users(spark).localCheckpoint(true)
      st = st.copy(eventlogs = Map("postgres" ->
        st.eventlogs("postgres").unionByName(ev).localCheckpoint(true)))
    }
    def cycle(): Unit = {
      val u = users
      st = CdcStream.run(st, Seq(CdcStream.Source(conf, () => u)),
        maxRecords = 100, maxCycles = st.cyclesRun + 1, sleeper = () => ())
      assert(st.sourceErrors.isEmpty, st.lastErrors)
    }

    // warm-up: the session's first cycle pays one-off planning work
    offer(40)
    cycle()

    offer(40)
    val tag = s"cycle-${System.nanoTime()}"
    val cost = new Cost(tag)
    sc.addSparkListener(cost)
    sc.setLocalProperty(Cost.Key, tag)
    try cycle()
    finally {
      sc.setLocalProperty(Cost.Key, null)
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(cost)
    }
    assert(cost.jobs.get() > 0 && cost.jobs.get() <= 8,
      s"${cost.jobs.get()} jobs for one capped cycle")
    assert(cost.shuffleBytes.get() == 0,
      s"${cost.shuffleBytes.get()} shuffle bytes for one capped cycle")

    val counts = mutable.ArrayBuffer(st.snapshot.rdd.getNumPartitions)
    for (_ <- 1 to 20) {
      offer(6)
      cycle()
      counts += st.snapshot.rdd.getNumPartitions
    }
    assert(counts.forall(_ == parts),
      s"partition count after the load $parts, after each cycle $counts")
  }
}
