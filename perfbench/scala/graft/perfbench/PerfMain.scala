package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.etl._
import graft.etl.Directory.Entry
import graft.streaming.CdcStream

/** One benchmark run in a fresh JVM: stage-reading, timing and output
  * checks for one workload. Writes every raw measurement (spans, lags,
  * counters, listener records, check results) as one JSON file; the
  * Python side (perfbench/run.py) derives the reported metrics.
  *
  * Every run makes the same phases, each a span: a cold pass over the
  * fleet queries, the workload's set-up, its timed window, then the
  * output checks.
  *
  * Usage: PerfMain <workload> <seed> <seconds> <trace 0|1> <cores>
  *   <inputDir> <workDir> <outJson> <fleet queries, comma-separated>
  */
object PerfMain {

  /** The conf graft.Bench uses, with the core count given. */
  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val conf: EtlConf = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
    cryptoIvHex = Some("0" * 32))
  val sourceKey = "postgres"

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime.toDouble
    val Array(workload, seed, seconds, traceFlag, cores, input, work, out) =
      argv.take(8)
    val trace = new Trace(traceFlag == "1")
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed.toLong,
      "trace" -> trace.on, "jvm_start_ms" -> jvmStartMs)
    var spark: SparkSession = null
    trace.span("Bench.run") {
      trace.span("Bench.session") {
        spark = session(cores.toInt, work)
        trace.attach(spark.sparkContext)
      }
      res("env") = environment(spark, cores.toInt)
      val run = new Run(spark, trace, input, work, seconds.toDouble, res)
      run.fleet(argv(8).split(",").filter(_.nonEmpty).toSeq)
      workload match {
        case "poll_prod" => run.pollProd()
        case "bulk_sync" => run.bulkSync()
        case other => throw new IllegalArgumentException(s"workload $other")
      }
    }
    if (trace.on) {
      org.apache.spark.PerfBridge.drainListeners(spark.sparkContext)
      res("jobs") = trace.listener.jobs.values.asScala.toSeq.sortBy(_.id)
        .map(j => Map("id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs))
      res("stages") = trace.listener.stages.asScala.toSeq.map(s => Map(
        "id" -> s.id, "attempt" -> s.attempt, "span" -> s.span,
        "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuMs,
        "gc_ms" -> s.gcMs, "scan_bytes" -> s.scanBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "spill_bytes" -> s.spillBytes))
    }
    res("spans") = trace.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "action" -> s.action, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs))
    res("rss_peak_mb") = vmHwmMb()
    spark.stop()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      mapper.writeValueAsString(res))
  }

  /** Process peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** The knobs the run was made under. */
  def environment(spark: SparkSession, cores: Int): Map[String, Any] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Map(
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "nproc" -> cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "jvm_args" -> rt.getInputArguments.asScala.toSeq,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "graft_env" -> sys.env.filter { case (k, _) =>
        k.startsWith("GRAFT_") || k.startsWith("SPARK_GRAFT_") },
      "decoder" -> graft.ops.Multimodal.resolveDecoder().getClass.getName,
      "stream_scratch_base" ->
        new java.io.File(graft.StreamScratch.checkpointDir("probe")).getParent,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version)
  }
}

/** The workload phases. Every call into a measured layer goes through
  * `trace.span`, named `<Module>.<call>`.
  */
final class Run(spark: SparkSession, trace: Trace, input: String,
    work: String, seconds: Double,
    res: mutable.LinkedHashMap[String, Any]) {
  import PerfMain.{conf, sourceKey}
  import spark.implicits._

  private val store = s"$work/store"
  private val cycles = mutable.ArrayBuffer.empty[CycleRec]
  private val saves = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** One CdcStream.run call of one cycle and its commit. `in` is the
    * eventlog the cycle read and `out` the one it left; after the
    * window both are read again for the cycle's backlog and verdicts.
    */
  private final case class CycleRec(timed: Boolean, cap: Int, in: DataFrame,
      out: DataFrame, runMs: Double, busyMs: Double, endMs: Double,
      sleeps: Int, failed: Boolean)

  private def readUsers(): DataFrame =
    EtlSchema.readUsersCsv(spark, s"$input/users.csv")

  private def readEvents(): DataFrame =
    EtlSchema.readEventsCsv(spark, s"$input/events.csv")

  /** mut_rows.csv: record_id, op, then the 32 user columns. */
  private def readMutations(): DataFrame = {
    val schema = StructType(Seq(StructField("record_id", DoubleType),
      StructField("op", StringType)) ++ EtlSchema.userSchema.fields)
    val raw = spark.read.option("header", "true").option("delimiter", ";")
      .option("nullValue", "").option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .schema(schema).csv(s"$input/mut_rows.csv")
    EtlSchema.char3UserCols.foldLeft(raw)((df, c) =>
      df.withColumn(c, when(col(c).isNotNull, rpad(col(c), 3, " "))))
  }

  /** schedule.csv rows: (record_id, due_ms, phase, class). */
  private def readSchedule(): Array[(Long, Long, String, String)] =
    spark.read.option("header", "true").option("delimiter", ";")
      .schema("record_id LONG, due_ms LONG, phase STRING, cls STRING")
      .csv(s"$input/schedule.csv")
      .as[(Long, Long, String, String)].collect().sortBy(_._1)

  /** The user table after a set of mutations: per ident_nr the last
    * op wins; `del` removes the row, `set`/`add` put the given row.
    */
  private def applyOps(users: DataFrame, ops: DataFrame): DataFrame = {
    val last = ops
      .withColumn("rn", row_number().over(
        Window.partitionBy("ident_nr").orderBy(col("record_id").desc)))
      .filter(col("rn") === 1)
    val touched = last.select(col("ident_nr").as("t_ident"))
    users.join(broadcast(touched), col("ident_nr") === col("t_ident"),
        "left_anti")
      .unionByName(last.filter(col("op") =!= "del")
        .select(EtlSchema.userFields.map(col): _*))
  }

  private def emptyEventlog: DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      EtlSchema.eventSchema)

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  private def liveVersion: java.io.File = new java.io.File(store,
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$store/CURRENT")).trim)

  /** Events still waiting in the eventlog (status N or E): the loop's
    * test for whether another cycle has work.
    */
  private def pending(st: CdcStream.LoopState): Long =
    trace.span("Bench.poll", "count()") {
      st.eventlogs(sourceKey).filter(trim(col("status")).isin("N", "E"))
        .count()
    }

  /** One CdcStream.run call of exactly one cycle, then the commit. */
  private def cycle(st: CdcStream.LoopState, users: () => DataFrame,
      cap: Int, timed: Boolean): CdcStream.LoopState = {
    val src = CdcStream.Source(conf, users, sourceKey)
    val t0 = trace.nowMs
    val next = trace.span("CdcStream.run", "eager localCheckpoint inside run") {
      CdcStream.run(st, Seq(src), maxRecords = cap,
        maxCycles = st.cyclesRun + 1, sleeper = () => ())
    }
    val t1 = trace.nowMs
    trace.span("Directory.save") { Directory.save(next.snapshot, store) }
    val t2 = trace.nowMs
    val failed = next.sourceErrors.values.sum > st.sourceErrors.values.sum
    cycles += CycleRec(timed, cap, st.eventlogs(sourceKey),
      next.eventlogs(sourceKey), t1 - t0, t2 - t0, t2, next.sleeps - st.sleeps,
      failed)
    if (trace.on) {
      val v = liveVersion
      saves += Map("timed" -> timed, "save_ms" -> (t2 - t1),
        "bytes" -> dirBytes(v),
        "files" -> Option(v.listFiles()).toSeq.flatten
          .count(_.getName.endsWith(".parquet")))
    }
    next
  }

  /** Initial load of `users` into an empty tree, materialized and
    * committed.
    */
  private def load(users: DataFrame): Dataset[Entry] =
    trace.span("Bench.load") {
      val snap = trace.span("InitialLoad.run",
          "snapshot.localCheckpoint(eager)") {
        InitialLoad.run(spark.emptyDataset[Entry], users, conf)
          .snapshot.localCheckpoint(true)
      }
      trace.span("Directory.save") { Directory.save(snap, store) }
      snap
    }

  /** Per recorded cycle, from the eventlog it read and the one it left:
    * the backlog it found (rows in N or E) and the events it gave a
    * verdict (pending rows whose status or attempt it changed). Per
    * event, the commit end of the first cycle that left it in a status
    * other than N.
    */
  private def verdicts(): (Seq[Map[String, Any]], Map[Long, Double]) = {
    def states(df: DataFrame): Map[Long, (String, Double)] =
      df.select(col("record_id").cast("long"), trim(col("status")),
          coalesce(col("attempt"), lit(0.0)))
        .as[(Long, String, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    val verdictAt = mutable.Map.empty[Long, Double]
    val rows = cycles.toSeq.map { c =>
      val in = states(c.in)
      val out = states(c.out)
      val waiting = in.filter { case (_, (s, _)) => s == "N" || s == "E" }
      out.foreach { case (rid, (s, _)) =>
        if (s != "N" && !verdictAt.contains(rid)) verdictAt(rid) = c.endMs
      }
      Map("timed" -> c.timed, "cap" -> c.cap, "run_ms" -> c.runMs,
        "busy_ms" -> c.busyMs, "end_ms" -> c.endMs,
        "backlog" -> waiting.size,
        "verdicted" -> waiting.keys.count(r => out.get(r) != in.get(r)),
        "sleeps" -> c.sleeps, "failed" -> c.failed)
    }
    (rows, verdictAt.toMap)
  }

  /** Output checks shared by the CDC workloads, outside the timed
    * window: fixpoint, dn uniqueness, status conservation, verdicts per
    * event class. Also derives each timed event's lag: from the time it
    * came due (`dueAt`) to the commit end of the cycle that gave it a
    * verdict.
    */
  private def cdcChecks(st: CdcStream.LoopState, users: DataFrame,
      offered: Map[Long, String], pending: Long,
      dueAt: Map[Long, Double]): Unit =
    trace.span("Bench.check") {
      val checks = mutable.LinkedHashMap[String, Any]()
      val (cycleRows, verdictAt) = verdicts()
      res("cdc_calls") = cycleRows
      res("lags_ms") = dueAt.toSeq.sortBy(_._1).flatMap { case (rid, due) =>
        verdictAt.get(rid).map(_ - due) }
      checks("timed_events_without_verdict") =
        dueAt.keys.count(r => !verdictAt.contains(r))
      val changed = InitialLoad.run(st.snapshot, users, conf).outcomes
        .filter(col("changed")).count()
      checks("fixpoint_changed_rows") = changed
      val dups = Directory.duplicateDns(st.snapshot)
      checks("duplicate_dns") = dups.size
      val statuses = st.eventlogs(sourceKey)
        .select(col("record_id").cast("long"), trim(col("status")))
        .as[(Long, String)].collect()
      val byStatus = statuses.groupBy(_._2).map { case (k, v) => k -> v.length }
      checks("status_counts") = byStatus
      val verdicted = Seq("S", "W", "E", "F").map(byStatus.getOrElse(_, 0)).sum
      checks("offered") = offered.size
      checks("pending") = pending
      val statusOf = statuses.toMap
      val perClass = offered.toSeq.groupBy(_._2).map { case (cls, evs) =>
        cls -> evs.groupBy(e => statusOf.getOrElse(e._1, "missing"))
          .map { case (s, v) => s -> v.size }
      }
      checks("status_by_class") = perClass
      val invalid = Set("bad_type", "bad_key")
      val misjudged = offered.count { case (rid, cls) =>
        val s = statusOf.getOrElse(rid, "missing")
        if (invalid(cls)) s != "F" else !(s == "S" || s == "W" || s == "N")
      }
      checks("misjudged_events") = misjudged
      val ok = changed == 0 && dups.isEmpty &&
        verdicted + byStatus.getOrElse("N", 0) == offered.size &&
        statuses.length == offered.size &&
        byStatus.getOrElse("N", 0) + byStatus.getOrElse("E", 0) == pending &&
        misjudged == 0 && dueAt.keys.forall(verdictAt.contains)
      checks("ok") = ok
      res("checks") = checks
      res("store_bytes") = dirBytes(liveVersion)
      res("saves") = saves.toSeq
      res("source_errors") = st.sourceErrors.values.sum
    }

  /** Open-loop poll traffic against a production-sized table. */
  def pollProd(): Unit = {
    val cap = 100
    val sched = readSchedule()
    val eventRows = readEvents().collect().sortBy(_.getDouble(0))
    val mutations = readMutations()
    val mutSchema = mutations.schema
    val mutByRid = mutations.collect().groupBy(_.getDouble(0).toLong)
    require(eventRows.length == sched.length, "events/schedule mismatch")

    var users: DataFrame = null
    var st: CdcStream.LoopState = null
    var next = 0

    /** Appends events [next, upTo) to the eventlog and applies their
      * user-row mutations (the source database's side of an event).
      */
    def offer(upTo: Int): Unit = if (upTo > next) {
      val idx = next until upTo
      trace.span("Source.apply") {
        val muts: Seq[Row] =
          idx.flatMap(i => mutByRid.get(sched(i)._1).toSeq.flatMap(_.toSeq))
        if (muts.nonEmpty)
          users = applyOps(users,
            spark.createDataFrame(muts.asJava, mutSchema)).localCheckpoint(true)
        val evs = spark.createDataFrame(idx.map(eventRows).asJava,
          EtlSchema.eventSchema)
        st = st.copy(eventlogs = Map(sourceKey ->
          st.eventlogs(sourceKey).unionByName(evs)))
      }
      next = upTo
    }

    trace.span("Bench.setup") {
      users = trace.span("Source.stage") { readUsers().localCheckpoint(true) }
      st = CdcStream.LoopState(load(users), Map(sourceKey -> emptyEventlog),
        0, 0)
      // warm-up: the set-up events, all due at once, drained to empty
      offer(sched.count(_._3 == "warm"))
      while (pending(st) > 0) st = cycle(st, () => users, cap, timed = false)
    }

    // The open loop. The arrival clock starts now: each timed event comes
    // due at loop0 + due_ms, in real time, while the loop works. A cycle
    // reads the eventlog when it starts, so before each cycle every event
    // that has come due is offered. The poll interval is 0: the next
    // cycle starts as soon as the last one committed. The loop ends once
    // every event has been offered and none is pending.
    val loop0 = trace.nowMs
    var left = 0L
    trace.span("Bench.window") {
      while (next < sched.length || left > 0) {
        val now = trace.nowMs
        var upTo = next
        while (upTo < sched.length && loop0 + sched(upTo)._2 <= now) upTo += 1
        offer(upTo)
        st = cycle(st, () => users, cap, timed = true)
        left = pending(st)
      }
    }
    val dueAt = sched.filter(_._3 == "timed")
      .map(s => s._1 -> (loop0 + s._2)).toMap
    cdcChecks(st, users, sched.map(s => s._1 -> s._4).toMap, left, dueAt)
  }

  /** A large load, then a closed-loop drain of a pre-seeded backlog. */
  def bulkSync(): Unit = {
    val cap = 10000
    var users0: DataFrame = null
    var usersFinal: DataFrame = null
    var elog: DataFrame = null
    var offered: Map[Long, String] = Map.empty
    trace.span("Bench.setup") {
      trace.span("Source.stage") {
        users0 = readUsers().localCheckpoint(true)
        usersFinal = applyOps(users0, readMutations()).localCheckpoint(true)
        elog = readEvents().localCheckpoint(true)
        offered = readSchedule().map(s => s._1 -> s._4).toMap
      }
    }
    var st: CdcStream.LoopState = null
    var d0 = 0.0
    var left = 0L
    trace.span("Bench.window") {
      val snap = load(users0)
      // closed loop: the whole backlog is due when the drain starts, and
      // the next cycle starts as soon as the last one committed
      d0 = trace.nowMs
      st = CdcStream.LoopState(snap, Map(sourceKey -> elog), 0, 0)
      left = offered.size.toLong
      while (left > 0) {
        st = cycle(st, () => usersFinal, cap, timed = true)
        left = pending(st)
      }
    }
    cdcChecks(st, usersFinal, offered, left, offered.map(_._1 -> d0))
  }

  /** One cold pass over the named registry queries on the tables in
    * `<input>/fleet`, each forced with count(); the oracle check runs
    * afterwards, outside the JVM.
    */
  def fleet(names: Seq[String]): Unit = {
    val dir = s"$input/fleet"
    val registry = graft.SparkEntry.queries
    val modules = Seq(
      "Relational" -> graft.operators.Relational.queries,
      "TpchStyle" -> graft.operators.TpchStyle.queries,
      "EtlOps" -> graft.operators.EtlOps.queries,
      "Windows" -> graft.operators.Windows.queries,
      "StreamToolOps" -> graft.operators.StreamToolOps.queries,
      "AsofJoin" -> graft.operators.AsofJoin.queries,
      "ScaleJoins" -> graft.operators.ScaleJoins.queries,
      "GraphOps" -> graft.operators.GraphOps.queries,
      "DataQuality" -> graft.operators.DataQuality.queries,
      "Behavior" -> graft.operators.Behavior.queries,
      "FunctionOps" -> graft.operators.FunctionOps.queries,
      "Dedup" -> graft.ops.Dedup.queries,
      "Similarity" -> graft.ops.Similarity.queries,
      "Clustering" -> graft.ops.Clustering.queries,
      "TextAnalysis" -> graft.ops.TextAnalysis.queries,
      "Multimodal" -> graft.ops.Multimodal.queries,
      "Curation" -> graft.ops.Curation.queries,
      "Sketches" -> graft.ops.Sketches.queries,
      "Maintenance" -> graft.ops.Maintenance.queries)
    def moduleOf(q: String): String =
      modules.find(_._2.contains(q)).map(_._1).getOrElse("unknown")
    val oracles = graft.SparkEntry.oracleSql
    val rows = trace.span("Bench.fleet") {
      names.map { q =>
        val m = moduleOf(q)
        val s0 = trace.nowMs
        val (count, error) =
          try trace.span(s"SparkEntry.$m", "count()") {
            (registry(q)(spark, dir).count(), "")
          } catch { case scala.util.control.NonFatal(e) => (-1L, e.toString) }
        Map("query" -> q, "module" -> m, "ms" -> (trace.nowMs - s0),
          "count" -> count, "error" -> error,
          "oracle_sql" -> oracles.getOrElse(q, ""))
      }
    }
    res("fleet") = rows
    res("registry_size") = registry.size
  }
}
