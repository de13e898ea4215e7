package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Structured Streaming surface (SURVEY.md §2.9).
  *
  * The reference's "stream" is a 20 s poll loop over an event table;
  * the native Spark translation is a file/parquet stream with
  * watermarked event-time windows for the analytics side (here) and a
  * `foreachBatch`-style micro-batch loop for the CDC side (CdcStream).
  */
object EventStream {

  /** Schema of the events table with ts as raw ns-long (parquet
    * TIMESTAMP(NANOS) must be read as long in Spark 4).
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Open the events parquet as a stream (bounded-per-trigger: the
    * `maxFilesPerTrigger` analog of the reference's max_records).
    *
    * A file stream source needs its schema up front, and the fixture's
    * `ts` has shipped both as TIMESTAMP(NANOS) (read as a raw ns long)
    * and TIMESTAMP(MICROS) (read as timestamp / timestamp_ntz), so the
    * actual layout is probed first with a batch footer read — forcing
    * the wrong one would not fail loudly: a LongType schema over µs
    * files silently yields timestamps 1000× too small. Either layout
    * normalizes to a µs TimestampType `ts` (NTZ pinned to an instant
    * via the session zone, UTC in all graft entry points — the same
    * reading DuckDB's `epoch_ns(ts)` gives the naive values).
    *
    * `drainTriggers` sets how many triggers a full drain of the table
    * takes (file-budget per trigger = ceil(files / drainTriggers)); the
    * default 4 keeps incremental semantics exercised on every layout.
    * For APPEND-mode drains the drained result is trigger-count-
    * invariant (watermarks are replay-span-sized, so nothing evicts
    * early — each row's emission happens exactly once regardless of
    * batching), which is what lets a constant-dominated contrast row
    * dial it down without changing what the query returns. In
    * complete mode the DRAINED RESULT is also trigger-count-invariant
    * (the memory sink truncates per trigger; the final emission is the
    * full state), but the sweep COST is not: a complete drain re-emits
    * the whole result table every trigger (the q_stream_session dagger
    * note in SCALING.md), so its cumulative sink volume scales WITH
    * trigger count. Complete-mode consumers that dial this down are
    * trading re-emission pricing for sweep time — keep at least 2 so
    * cross-trigger state merge is still exercised (q_stream_session
    * does exactly this, round-17 decision).
    */
  def readEvents(spark: SparkSession, dir: String,
      drainTriggers: Int = 4): DataFrame = {
    // the table is either a single flat file (driver testdata) or a
    // Spark-written DIRECTORY of part files (GenScale sf replicas). A
    // file stream source lists a directory, so: stream the table dir
    // itself when it is one; otherwise stream the sf dir glob-filtered
    // to the flat file. The glob must NOT be used for the directory
    // layout - pathGlobFilter matches leaf file names, and part-*.
    // parquet files inside events.parquet/ would all be filtered out,
    // silently producing an EMPTY stream.
    val tablePath = new java.io.File(dir, "events.parquet")
    // conf-free footer probe (Tables.probeTsLayout); only the genuine
    // TIMESTAMP(NANOS) layout needs the session-wide legacy conf, and
    // needs it for the stream's lifetime — every other layout leaves
    // session state untouched
    val layout = Tables.probeTsLayout(spark, dir)
    val tsType: org.apache.spark.sql.types.DataType = layout match {
      case Tables.TsLayout.NanosLong =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        LongType
      case Tables.TsLayout.PlainLong => LongType
      case Tables.TsLayout.Micros    => TimestampType
      case Tables.TsLayout.MicrosNtz => TimestampNTZType
    }
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    // Trigger budget ∝ shard count: each micro-batch pays fixed
    // per-trigger costs (state-store open/commit × stores × partitions,
    // offset-log fsyncs) that are INDEPENDENT of row volume, so with
    // maxFilesPerTrigger=1 a many-part-file table serializes one full
    // state cycle per shard — cost grows with FILE COUNT, not data
    // (the sf1 slope-6.25 pattern on q_stream_tumbling). Size the
    // budget so a drain takes ~4 triggers at any layout (still >1
    // trigger on multi-file tables, keeping incremental semantics
    // exercised), and at real scale the equivalent knob is
    // maxBytesPerTrigger against the cluster's per-batch capacity.
    val nFiles =
      if (tablePath.isDirectory) Tables.parquetParts(tablePath).length
      else 1
    val filesPerTrigger =
      math.max(1, math.ceil(nFiles.toDouble / drainTriggers).toInt)
    val reader = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
    val src =
      if (tablePath.isDirectory) reader.parquet(tablePath.getPath)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    if (tsType == LongType)
      src.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else {
      if (tsType == TimestampNTZType)
        Tables.requireUtc(spark, "EventStream.readEvents")
      src.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Watermark delay for REPLAYING a bounded historical table through a
    * stateful stream: a watermark promises "input is at most D late",
    * and a multi-file replay breaks any small D — the file source
    * delivers files in listing order, not event-time order, so with
    * shard-replicated part files every trigger spans the whole time
    * range and a 10-minute watermark silently drops most cross-trigger
    * state (measured at sf1: the interval join emitted 2.4× instead of
    * 10×, sessionization 5.1×). The honest disorder bound for a replay
    * is the table's full time span, so that is what this returns (plus
    * the query's own natural lateness margin); state is then bounded by
    * the replay size — which a drain holds anyway. A LIVE deployment
    * keeps a small watermark because its disorder bound is genuinely
    * small; the bound is a property of the ARRIVAL ORDER, not of the
    * query. Memoized per dir: the SPAN is data-derived, so a rewritten
    * table must re-probe or the watermark silently shrinks below the
    * new disorder bound.
    */
  private val spanMemo = graft.SourceMemo[String, Long]()
  def replayWatermark(spark: SparkSession, dir: String, marginSec: Long = 600L): String = {
    val span = spanMemo(dir, Tables.fingerprint(dir, "events"), Nil) {
      val r = Tables.events(spark, dir)
        .agg(min(col("ts_ns")).as("lo"), max(col("ts_ns")).as("hi")).head()
      if (r.isNullAt(0)) 0L
      else (r.getLong(1) - r.getLong(0)) / 1000000000L + 1L
    }
    s"${span + marginSec} seconds"
  }

  /** Custom keyed state: a running per-user profile (event count,
    * value total, last event id) maintained with mapGroupsWithState —
    * the arbitrary-state path for logic windowed aggregation can't
    * express. State lives in the state store (bounded by user
    * cardinality, evictable via timeouts at scale).
    */
  case class UserProfile(userId: Long, n: Long, total: Double, lastEventId: Long)

  def runningUserProfiles(events: org.apache.spark.sql.Dataset[
      (Long, Long, Double)]): org.apache.spark.sql.Dataset[UserProfile] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val pe: Encoder[UserProfile] = Encoders.product[UserProfile]
    implicit val le: Encoder[Long] = Encoders.scalaLong
    events
      .groupByKey(_._1)
      .mapGroupsWithState[UserProfile, UserProfile](
        GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
        val prev = state.getOption.getOrElse(UserProfile(uid, 0L, 0.0, -1L))
        val next = rows.foldLeft(prev) { (acc, r) =>
          UserProfile(uid, acc.n + 1,
            // cents-exact accumulation: re-round the running total too,
            // or acc.total*100 drift compounds across state updates
            math.rint(acc.total * 100 + math.rint(r._3 * 100)) / 100,
            math.max(acc.lastEventId, r._2))
        }
        state.update(next)
        next
      }
  }

  /** First-seen pair emission via flatMapGroupsWithState — the
    * 0..n-outputs custom-state path (mapGroupsWithState must emit
    * exactly one row per group per batch; a keyed first-seen dedup
    * emits one row per NOVEL (user, event_type) pair in the batch,
    * which needs the flatMap form). State per user is the set of seen
    * types — bounded by the type vocabulary per user; a live
    * deployment adds an event-time timeout to retire idle users. The
    * union of emissions is arrival-order-INDEPENDENT (it converges to
    * the DISTINCT pair set however the replay shuffles triggers),
    * which is what makes the replay oracle exact on any file layout.
    */
  def firstSeenPairs(events: DataFrame)
      : org.apache.spark.sql.Dataset[(Long, String)] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val ss = events.sparkSession
    import ss.implicits._
    events
      .select(col("user_id").cast("long"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[String], (Long, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
        val seen = state.getOption.getOrElse(Array.empty[String])
        val fresh = rows.map(_._2).toArray.distinct
          .filterNot(seen.contains).sorted
        if (fresh.nonEmpty) state.update(seen ++ fresh)
        fresh.iterator.map(t => (uid, t))
      }
  }

  /** First-seen pairs through `transformWithState` — Spark 4's
    * arbitrary-state v2 API — with TWO typed state variables: a
    * MapState of seen types (point lookups instead of the v1 API's
    * whole-blob read/write — the difference that matters when a key's
    * state is large) and a ValueState tally (read back by the spec).
    * Same output contract as [[firstSeenPairs]], so the DISTINCT
    * oracle and the v1 twin both pin it. Requires the RocksDB state
    * store provider (the only one implementing the v2 state API) —
    * the query builder sets it on its cloned session.
    */
  class FirstSeenProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, String)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode,
      TimerValues, TTLConfig, ValueState}
    @transient private var seen: MapState[String, Boolean] = _
    @transient private var nTypes: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getMapState[String, Boolean](
        "seen", Encoders.STRING, Encoders.scalaBoolean, TTLConfig.NONE)
      nTypes = getHandle.getValueState[Long](
        "n_types", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        tv: TimerValues): Iterator[(Long, String)] = {
      val fresh = rows.map(_._2).toArray.distinct
        .filterNot(seen.containsKey).sorted
      fresh.foreach(t => seen.updateValue(t, true))
      if (fresh.nonEmpty) {
        val prev = if (nTypes.exists()) nTypes.get() else 0L
        nTypes.update(prev + fresh.length)
      }
      fresh.iterator.map(t => (key, t))
    }
  }

  def firstSeenPairsTws(events: DataFrame)
      : org.apache.spark.sql.Dataset[(Long, String)] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val ss = events.sparkSession
    import ss.implicits._
    events
      .select(col("user_id").cast("long"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new FirstSeenProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Watermarked tumbling 1-hour aggregation — the streaming twin of
    * operators.Windows.tumbling; late data beyond 10 min is dropped and
    * state is evicted (bounded state at scale).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.dec(col("value"))).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
}
