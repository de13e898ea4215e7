package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import Directory.Entry

/** Differential check of the CDC cycle's two bodies: the same ≤100-event
  * backlog through `Cdc.cycle(cap = 100)` (the driver-local body) and
  * `Cdc.cycle(cap = Int.MaxValue)` (the set-based body) — both select
  * every pending event — must leave the same tree and the same eventlog,
  * cycle after cycle, each body continuing from its own output. The
  * local chain must then be a fixpoint of a full resync.
  */
class CdcLocalSpec extends AnyFunSuite {

  private def eventRows(df: DataFrame): Seq[Row] =
    df.orderBy("record_id").collect().toSeq

  private def status(df: DataFrame): Map[Long, String] =
    df.select(col("record_id").cast("long"), trim(col("status")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("local and set-based bodies agree on seeded backlogs; the result is a resync fixpoint") {
    val spark = TestSpark.spark
    // three cycles of new events, then one that only retries the E's
    val cycles = 4
    val seen = scala.collection.mutable.Map.empty[String, Set[String]]
      .withDefaultValue(Set.empty)
    for (seed <- 1L to 5L) {
      val world = new CdcFixtures.World(seed, 240)
      val conf = CdcFixtures.conf(seed)
      val snap0 = world.initialSnapshot(spark, conf).localCheckpoint(true)
      var local: (Dataset[Entry], DataFrame) =
        (snap0, CdcFixtures.emptyEventlog(spark))
      var set = local
      var users: DataFrame = null
      for (c <- 1 to cycles) {
        val ev = world.events(spark, if (c < cycles) 45 else 0)
          .localCheckpoint(true)
        users = world.users(spark).localCheckpoint(true)
        val cc = conf.copy(etlTimestamp = f"202401010$c%01d0000Z")
        val readTime = java.sql.Timestamp.valueOf(s"2024-01-01 0$c:00:00")
        val l = Cdc.cycle(local._1, users, local._2.unionByName(ev), cc,
          maxRecords = 100, readTime = readTime)
        val s = Cdc.cycle(set._1, users, set._2.unionByName(ev), cc,
          maxRecords = Int.MaxValue, readTime = readTime)
        val label = s"seed $seed cycle $c"
        assert(l.selected == s.selected, label)
        assert(l.selected <= 100, s"$label: backlog must fit one capped batch")
        assert(Directory.dump(l.snapshot) == Directory.dump(s.snapshot),
          s"$label: trees differ")
        assert(eventRows(l.eventlog) == eventRows(s.eventlog),
          s"$label: eventlogs differ")
        assert(l.renames.collect().map(_.toString).sorted.toSeq ==
          s.renames.collect().map(_.toString).sorted.toSeq, s"$label: renames")
        assert(l.pendingAfter.contains(status(l.eventlog).values
          .count(v => v == "N" || v == "E").toLong), label)
        status(l.eventlog).foreach { case (rid, st) =>
          seen(world.classOf(rid)) += st }
        local = (l.snapshot.localCheckpoint(true), l.eventlog.localCheckpoint(true))
        set = (s.snapshot.localCheckpoint(true), s.eventlog.localCheckpoint(true))
      }
      assert(status(local._2).values.forall(v => v != "N" && v != "E"),
        s"seed $seed: events left pending")
      assert(Directory.duplicateDns(local._1).isEmpty, s"seed $seed: duplicate dns")
      val changed = InitialLoad.run(local._1, users, conf).outcomes
        .filter(col("changed")).count()
      assert(changed == 0, s"seed $seed: not a resync fixpoint")
    }
    // the fixtures reach every class, each with its verdicts; a kernel
    // error is retried as E until its attempt passes 10, then F
    val expect = Map(
      "update" -> Set("S", "W"), "password" -> Set("S", "W"),
      "rename" -> Set("S", "W"), "insert" -> Set("S", "W"), "delete" -> Set("S"),
      "dup_uid" -> Set("W"), "bad_type" -> Set("F"), "bad_key" -> Set("F"),
      "kernel_error" -> Set("E", "F"))
    CdcFixtures.classes.foreach { cls =>
      assert(seen(cls).nonEmpty && seen(cls).subsetOf(expect(cls)),
        s"$cls got ${seen(cls)}")
    }
    assert(seen("kernel_error") == Set("E", "F"))
  }
}
