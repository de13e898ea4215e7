package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{Directory, EtlSchema}
import graft.streaming.EventStream
import graft.tools.{Compare, CsvTools}

/** Driver-contract surface for the streaming engine and the satellite
  * tools (compare, CSV dump, anonymizer).
  */
object StreamToolOps {

  private val refData = "/root/reference/testdata"

  /** Staged landing zones, keyed by zone path; the source
    * fingerprint is the table the zone is staged from.
    */
  private val sliceMemo = graft.SourceMemo[String, Unit]()

  /** Stage the documents table as a JSONL landing zone ONCE per (JVM,
    * dataset, source version): the dump is zone SETUP (what a real
    * landing zone already holds when the stream attaches), not ingest
    * cost, and re-writing it inside every timed rep priced the setup
    * three times over per bench query (guide §1.4 — time the
    * computation, not the fixture staging). Results are unaffected:
    * the drained dedup/summary are arrival-order-independent
    * (md5-keyed dropDuplicates + per-source aggregates), so replaying
    * the same staged files yields the same table whether the zone was
    * written this rep or a previous one.
    */
  private def stagedDocsJsonl(s: SparkSession, d: String, tag: String,
      gz: Boolean = false): String = {
    val path = graft.tools.JsonlTools.dumpDir(d, tag)
    sliceMemo(path, graft.Tables.fingerprint(d, "documents"),
        Seq(new java.io.File(path))) {
      val docs = graft.Tables.documents(s, d)
      if (gz) graft.tools.JsonlTools.writeJsonlGz(docs, path)
      else graft.tools.JsonlTools.writeJsonl(docs, path)
    }
    path
  }

  /** Per-(caller session, drain prefix) pooled child sessions (round
    * 20): `drain` used to clone a fresh session per CALL, so every
    * bench rep re-paid SessionState construction (catalog, analyzer,
    * conf copy — pure per-drain driver constants, guide §7.3). Each
    * QUERY still gets its own private clone — the conf-isolation
    * invariant (provider settings live and die with their query)
    * holds per prefix exactly as it held per call, because a prefix is
    * used by exactly one query function with one conf recipe. The
    * second slot tracks the previous drain's memory-sink table so the
    * pool stays bounded: one live sink table per query, not one per
    * execution (the old per-call sessions leaked theirs until GC).
    */
  private[graft] val drainPool = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    (SparkSession, java.util.concurrent.atomic.AtomicReference[String])]()

  /** Drain a streaming frame to completion into a uniquely-named
    * memory-sink table and return it. Dev/test surface only: each call
    * registers one in-session temp table (the price of reading a
    * memory sink after the query stops); the previous call's table for
    * the same prefix is dropped, so live sink tables are bounded by
    * the query count.
    */
  private def drain(s: SparkSession, build: SparkSession => DataFrame,
      prefix: String, mode: String, partitions: Int = 8): DataFrame = {
    val name = s"${prefix}_${System.nanoTime()}"
    // stateful-operator costs (state stores, checkpoint fsyncs) are
    // per-shuffle-partition, and the planner pins the partition count
    // at query start: size the stateful shuffle to the data, not the
    // CPU count. At real volume this is a capacity knob; on the
    // fixture it removes pure per-partition setup overhead (~0.3-0.5 s
    // per streaming query at 32 partitions). The override lives in a
    // CLONED session (same SparkContext, private conf), so a
    // concurrently-planned query in the caller's session can never
    // observe the temporary value — which is why the stream is BUILT
    // by a callback against the clone, not passed in pre-planned.
    val (child, lastName) = drainPool.computeIfAbsent((s, prefix), _ => {
      val c = s.newSession()
      c.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      (c, new java.util.concurrent.atomic.AtomicReference[String](null))
    })
    // ephemeral checkpoint on the RAM-backed scratch (StreamScratch):
    // the drain never resumes, so the offset/commit-log and state-store
    // delta fsyncs need no durable medium — fresh unique dir per drain,
    // deleted after stop (no state ever crosses two executions)
    val ck = graft.StreamScratch.checkpointDir(name)
    val q = build(child).writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .option("checkpointLocation", ck)
      .start()
    try q.processAllAvailable()
    finally {
      try q.stop()
      finally graft.StreamScratch.cleanup(ck)
    }
    val prev = lastName.getAndSet(name)
    // the previous table's DataFrame (if a caller still holds one) was
    // analyzed at its own drain — dropping the catalog entry only
    // unregisters the name for NEW lookups
    if (prev != null) child.catalog.dropTempView(prev)
    child.table(name)
  }

  /** Structured Streaming tumbling aggregation, drained to completion —
    * shares the batch twin's DuckDB oracle (same result by construction,
    * now verified by the driver too).
    */
  def streamTumbling(s: SparkSession, d: String): DataFrame =
    drain(s, ss => EventStream.tumblingCounts(EventStream.readEvents(ss, d)),
      "stream_tumbling", "complete")

  /** Streaming exact dedup — stateful dropDuplicates over the event
    * stream (state keyed by the dedup columns; at scale this is
    * `dropDuplicatesWithinWatermark` so state evicts with event time).
    * Drained to completion, it must equal batch DISTINCT.
    */
  def streamDedup(s: SparkSession, d: String): DataFrame =
    drain(s, ss =>
      EventStream.readEvents(ss, d)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type"),
      "stream_dedup", "append")

  /** Streaming JSONL corpus ingest: the landing-zone shape — document
    * shards arrive as JSONL files, are read schema-enforced
    * (JsonlTools.readStreamJsonl), deduped in-stream by content hash
    * WITHIN source (cross-source duplicate attribution would depend on
    * arrival order; per-source keying keeps the drained counts
    * layout-independent), and summarized per source. The dedup state
    * is keyed by (source, hash) — at a live 100 TB landing zone the
    * same query runs with dropDuplicatesWithinWatermark so state
    * evicts with arrival time.
    */
  def streamJsonlIngest(s: SparkSession, d: String): DataFrame =
    streamJsonlSummary(s, stagedDocsJsonl(s, d, "stream"), "stream_jsonl")

  /** The gz twin of `streamJsonlIngest`: shards land as .json.gz and
    * stream through the identical schema-enforced dedup — compressed
    * landing zones are the common case, and the file-stream source
    * dispatches the codec by extension exactly like the batch reader.
    */
  def streamJsonlIngestGz(s: SparkSession, d: String): DataFrame =
    streamJsonlSummary(s, stagedDocsJsonl(s, d, "stream_gz", gz = true),
      "stream_jsonl_gz")

  private def streamJsonlSummary(s: SparkSession, path: String,
      name: String): DataFrame =
    drain(s, ss =>
      graft.tools.JsonlTools.readStreamJsonl(ss, path)
        .filter(col("text").isNotNull)
        .withColumn("h", md5(col("text")))
        .dropDuplicates("source", "h"),
      name, "append")
      .groupBy("source")
      // lengths recomputed from the surviving text, not the stored
      // n_chars column: identical texts have identical lengths by
      // construction, so the sum is survivor-independent
      .agg(count(lit(1)).as("n_distinct"),
        sum(length(col("text")).cast("long")).as("sum_chars"))

  /** Append-mode streaming sessionization — the LIVE-deployment shape.
    * Complete mode re-emits the whole session table every trigger, so
    * sink write volume grows with accumulated history (the measured
    * 6.1× sf1 slope on `streamSession`); append emits each session
    * exactly ONCE, when the watermark passes its end, making per-
    * trigger output proportional to sessions that CLOSED — the only
    * shape that survives an unbounded stream.
    *
    * The price of append is FINITE lateness, which is only honest when
    * arrival order tracks event time. A raw multi-file replay breaks
    * that (listing order ≠ event-time order — why `streamSession`
    * needs the full-span replay watermark), so this replay stages the
    * events into range-partitioned time slices whose listing order IS
    * event-time order: exactly what a real time-partitioned landing
    * zone delivers. Two slices per trigger (the watermark advances
    * between triggers, never inside one); the 10-minute lateness then
    * never drops input (slice k+1's min ts ≥ slice k's max by
    * construction). Sessions whose end is still inside the lateness
    * horizon at drain end are not yet final — not emitted — and the
    * oracle applies the same horizon to the batch islands.
    */
  def streamSessionAppend(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{StructType, StructField, LongType,
      TimestampType}
    val path = graft.SourceMemo.stagingDir("graft_evslices_", d)
    // stage the landing zone ONCE per (JVM, dataset, source version):
    // repeated executions (bench reps) stream from the same staged
    // slices instead of re-writing them — the write is zone setup, not
    // ingest cost
    sliceMemo(path, graft.Tables.fingerprint(d, "events"),
        Seq(new java.io.File(path))) {
      graft.Tables.events(s, d).select(col("user_id"), col("ts"))
        .repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(path)
      // the file-stream source orders arrival by MODIFICATION TIME,
      // and one write job stamps every part file with the same
      // second — a tie the lister breaks arbitrarily, which scrambled
      // the replay into event-time disorder (early sessions dropped
      // below the watermark). Stamp strictly ascending mtimes in part
      // order (part index = range-partition index = time order) so
      // arrival order is deterministically event-time order.
      val parts = new java.io.File(path).listFiles()
        .filter(f => f.getName.startsWith("part-")
          && f.getName.endsWith(".parquet")).sortBy(_.getName)
      val base = System.currentTimeMillis() - parts.length * 2000L
      parts.zipWithIndex.foreach { case (f, i) =>
        // a silent stamp failure degrades to the scrambled same-second
        // ordering above — fail fast instead of dropping early
        // sessions below the watermark
        require(f.setLastModified(base + i * 2000L),
          s"setLastModified failed on $f — replay ordering would be " +
            "event-time-scrambled; filesystem does not support mtime stamping")
      }
    }
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType)))
    drain(s, { ss =>
      // merge sessions INSIDE each input partition before the stateful
      // shuffle (round 20, guide §2.3 — aggregate before you shuffle,
      // the session-window analog): most of a user's events sit in one
      // scan partition per trigger, so pre-merged spans shrink both the
      // exchange and the per-row state-store updates. Same merge
      // algebra applied earlier — drained result identical (oracle
      // green both SFs). Interleaved isolated A/B: sf0.1 floors
      // 2.86/2.96 → 2.60/2.26 s across two run pairs; sf1 floor
      // 6.11 → 5.74 s — the win grows with rows per (user, trigger),
      // which is the 100 TB direction.
      ss.conf.set(
        "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition",
        "true")
      ss.readStream.schema(schema).option("maxFilesPerTrigger", "2")
        .parquet(path)
        .withWatermark("ts", "10 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
    }, "stream_session_append", "append", partitions = 8)
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
  }

  /** Custom-state streaming dedup — the flatMapGroupsWithState twin of
    * `streamDedup`: per-user seen-type state, one emission per novel
    * pair (0..n outputs per group per batch — the shape the flatMap
    * form exists for). Drained, the emission union equals batch
    * DISTINCT on any replay file order.
    */
  def streamStateDedup(s: SparkSession, d: String): DataFrame =
    drain(s, ss =>
      EventStream.firstSeenPairs(EventStream.readEvents(ss, d))
        .toDF("user_id", "event_type"),
      "stream_state_dedup", "append")

  /** The transformWithState twin of `streamStateDedup` — the v2
    * arbitrary-state API under the same drained-replay contract. The
    * RocksDB provider conf is scoped to drain's cloned session, so the
    * rest of the fleet keeps the default HDFS-backed store.
    */
  def streamTwsDedup(s: SparkSession, d: String): DataFrame =
    drain(s, { ss =>
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // same two provider tunings as streamJoinRocksdb (rationale in
      // SCALING.md's provider note): changelog commits instead of
      // per-trigger SST snapshots, and no read-before-write
      // numRowsTotal maintenance. A/B at sf1 was NEUTRAL here (the
      // per-user seen-type state is tiny, so instance setup — not
      // commit cost — dominates); kept because they are the settings
      // a production deployment runs with and they measurably win on
      // the state-heavy join
      ss.conf.set("spark.sql.streaming.stateStore.rocksdb" +
        ".changelogCheckpointing.enabled", "true")
      ss.conf.set("spark.sql.streaming.stateStore.rocksdb" +
        ".trackTotalNumberOfRows", "false")
      EventStream.firstSeenPairsTws(EventStream.readEvents(ss, d))
        .toDF("user_id", "event_type")
    }, "stream_tws_dedup", "append")

  /** Streaming INCREMENTAL near-dup detection — MinHash-LSH banding as
    * a stateful stream, the op a live corpus landing zone actually
    * needs (batch LSH re-reads the whole corpus per ingest; this emits
    * each new document's candidate pairs the moment it lands).
    * Arriving JSONL docs get the SAME native signature + band hashes
    * as the batch path (Dedup.sigOf / Dedup.bandArr — one shared
    * definition, so stream and batch can never disagree on what a
    * candidate is); state per (band, bucket-hash) is the member list,
    * and a new arrival emits one pair per existing member.
    *
    * The bucket cap is ARRIVAL-PREFIX semantics, deliberately distinct
    * from batch `lshPairs`: a stream cannot retract pairs it already
    * emitted when a bucket later turns hot, so instead of dropping
    * oversized buckets post-hoc it stops ADMITTING members past
    * `maxBucket` — state ≤ 64 ids and emission ≤ C(64,2) pairs per
    * bucket, bounded at any corpus size, and the first-seen members
    * (the ones that matter — later ones are near-dups of them) keep
    * their pairs. The oracle mirrors exactly this: pairs among each
    * bucket's first-`maxBucket` members in arrival order. The staged
    * replay lands in one trigger and the handler sorts each trigger's
    * arrivals by doc_id, so arrival order IS doc_id order and the
    * SQL rank mirrors it deterministically. Cross-band duplicates are
    * dropped batch-side from the drained emissions (the streamHll
    * pattern) — chaining a second stateful dedup after fMGWS is the
    * one shape the engine restricts.
    */
  def streamLshPairs(s: SparkSession, d: String): DataFrame = {
    // staging memoized like the other landing zones; the one-trigger
    // arrival contract (all staged files land in the first trigger —
    // no maxFilesPerTrigger here) is unchanged by WHEN the zone was
    // written, so the arrival-prefix oracle semantics are untouched
    val path = stagedDocsJsonl(s, d, "stream_lsh")
    val cap = graft.ops.Dedup.maxBucket
    drain(s, { ss =>
      import ss.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      val docs = graft.tools.JsonlTools.readStreamJsonl(ss, path)
        .filter(col("text").isNotNull)
      graft.ops.Dedup.sigOf(docs)
        .select(col("doc_id"),
          posexplode(graft.ops.Dedup.bandArr).as(Seq("band", "h")))
        .as[(Long, Int, String)]
        .groupByKey(r => (r._2, r._3))
        .flatMapGroupsWithState[Array[Long], (Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, rows, state) =>
          val seen = state.getOption.getOrElse(Array.empty[Long])
          val arriving = rows.map(_._1).toArray.distinct.sorted
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          var cur = seen
          arriving.foreach { id =>
            if (!cur.contains(id) && cur.length < cap) {
              cur.foreach(m =>
                out += ((math.min(m, id), math.max(m, id))))
              cur = cur :+ id
            }
          }
          if (cur.length != seen.length) state.update(cur)
          out.iterator
        }
        .toDF("doc_a", "doc_b")
    }, "stream_lsh", "append")
      .distinct()
  }

  /** Stream-stream interval join: each event joined to the same user's
    * events in the preceding 60 s, with watermarks on both sides so
    * join state evicts as event time advances (bounded state — the only
    * stream-stream join shape that survives at scale). Drained, it
    * must equal the batch interval join.
    */
  def streamJoin(s: SparkSession, d: String): DataFrame =
    // the stateful-shuffle sizing (stream-stream joins carry 4 state
    // stores per partition) is handled centrally in drain(); a width
    // sweep at sf0.1 confirmed the shared 8 is this query's optimum
    // too (4 → 3.5 s, 8 → 3.1 s, 16 → 4.4 s): narrower serializes the
    // join work faster than it saves store setup, wider pays setup.
    // Re-swept for the RocksDB twin (round 14), where per-partition
    // instance setup is heavier: width 4 still REGRESSED it (~4.5 →
    // 5.9 s at sf0.1) — the shared 8 stands for both providers.
    drain(s, ss => streamJoinBuild(ss, d), "stream_join", "append")

  /** The RocksDB-state twin of `streamJoin` — identical plan and
    * drained result (the two registry entries share one oracle), with
    * the four per-partition join state stores backed by the RocksDB
    * provider instead of the default HDFS-backed in-memory map. The
    * default store holds every live key in executor heap, so at 100 TB
    * the stream-stream join's state (bounded by the watermark horizon
    * × arrival rate, not by corpus size — but that product is large)
    * competes with the join itself for memory; RocksDB spills state to
    * local SSD with an in-heap block cache, which is the provider a
    * long-horizon production stream deploys with. Benchmarking BOTH
    * under the same drained-replay protocol prices the provider swap
    * (per-batch store open/commit constants vs heap pressure) so the
    * choice is measured, not asserted — the conf is scoped to drain's
    * cloned session, leaving the rest of the fleet on the default
    * provider.
    */
  def streamJoinRocksdb(s: SparkSession, d: String): DataFrame =
    drain(s, { ss =>
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // changelog checkpointing: commit uploads the batch's changelog
      // instead of snapshotting SST files per (store × trigger) —
      // the deployment setting for RocksDB state at scale, and
      // measured here to matter (see SCALING.md's provider note)
      ss.conf.set("spark.sql.streaming.stateStore.rocksdb" +
        ".changelogCheckpointing.enabled", "true")
      // every RocksDB put otherwise pays a read-before-write just to
      // maintain the numRowsTotal metric — observability the join's
      // semantics never reads
      ss.conf.set("spark.sql.streaming.stateStore.rocksdb" +
        ".trackTotalNumberOfRows", "false")
      // Recorded decision on this row's 26.5 s sf1 sweep cost (round
      // 16): KEPT at the shared default drain. The hypothesis that the
      // cost is per-trigger instance constants was MEASURED false —
      // halving the sf1 drain to 2 triggers via readEvents'
      // drainTriggers knob moved the row 26.5 → 25.7 s (~3%), so the
      // cost is RocksDB write-path work proportional to state volume
      // (puts + changelog uploads), which is exactly the deployment
      // trade this A/B row exists to price against the HDFS-heap row —
      // cutting its data would cut the evidence. Same trigger schedule
      // as q_stream_join keeps the A/B strictly like-for-like.
      streamJoinBuild(ss, d)
    }, "stream_join_rdb", "append")

  // Watermark = the REPLAY's disorder bound (EventStream.
  // replayWatermark): with multi-file layouts the triggers arrive
  // out of event-time order, and a small watermark silently dropped
  // cross-trigger join state (sf1 emitted 2.4× instead of 10×)
  private def streamJoinBuild(ss: SparkSession, d: String,
      drainTriggers: Int = 4): DataFrame = {
    val wm = EventStream.replayWatermark(ss, d)
    val l = EventStream.readEvents(ss, d, drainTriggers)
      .select(col("event_id").as("l_id"), col("user_id").as("l_uid"),
        col("ts").as("l_ts"))
      .withWatermark("l_ts", wm)
    val r = EventStream.readEvents(ss, d, drainTriggers)
      .select(col("event_id").as("r_id"), col("user_id").as("r_uid"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", wm)
    l.join(r,
      col("l_uid") === col("r_uid") &&
        col("r_ts") >= col("l_ts") - expr("INTERVAL 60 seconds") &&
        col("r_ts") < col("l_ts"))
      .select(col("l_id"), col("r_id"))
  }

  /** Stream-static enrichment join: the event stream joined to a
    * static dimension snapshot (customer) that Spark re-plans per
    * micro-batch as an ordinary BROADCAST hash join — no state store
    * at all, the streaming join shape to prefer whenever one side is a
    * slowly-changing table rather than a stream. The per-segment
    * rollup runs in complete mode; drained, it equals the batch twin
    * (J1's oracle shape).
    */
  def streamStatic(s: SparkSession, d: String): DataFrame =
    drain(s, { ss =>
      val dim = graft.Tables.customer(ss, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      EventStream.readEvents(ss, d)
        .join(broadcast(dim), col("user_id") === col("c_custkey"),
          "left_outer")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(graft.Tables.dec(col("value"))).as("sum_dec"))
    }, "stream_static", "complete")
      .select(col("c_mktsegment"), col("n"),
        col("sum_dec").cast("double").as("sum_value"))

  /** Watermark-bounded streaming dedup — the 100 TB form of
    * `streamDedup`: `dropDuplicatesWithinWatermark` keeps dedup state
    * only for keys seen inside the watermark horizon, so state size is
    * bounded by the horizon's key arrival rate instead of the stream's
    * lifetime key count. On the single-batch fixture (no duplicate
    * arrives outside the horizon) it equals batch DISTINCT exactly.
    */
  def streamDedupWm(s: SparkSession, d: String): DataFrame =
    // replay-bounded watermark: the horizon must exceed the replay's
    // out-of-orderness or a duplicate key first seen in a LATE trigger
    // is dropped outright (sf1 lost 11 of 75,000 keys at 10 minutes);
    // a live stream would use its real arrival-lateness bound here
    drain(s, ss =>
      EventStream.readEvents(ss, d)
        .withWatermark("ts", EventStream.replayWatermark(ss, d))
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type")),
      "stream_dedup_wm", "append")

  /** Streaming gap-sessionization: `session_window` (30-min inactivity
    * gap) with a watermark. State is per (user, open-session), merged
    * as events arrive and evicted as the watermark passes session ends
    * — the only sessionization shape that survives an unbounded
    * stream. Drained in complete mode so the final table carries every
    * merged session (append would withhold sessions still inside the
    * watermark at end-of-input); the result equals batch
    * sessionization (the oracle). Timestamps compare at µs as BIGINT
    * (Spark timestamps are µs; DuckDB keeps ns).
    */
  def streamSession(s: SparkSession, d: String): DataFrame = {
    // session merge drops below-watermark input EVEN in complete mode
    // (unlike plain aggregations), so the replay needs the full
    // disorder-bound watermark — a 0-second watermark halved the sf1
    // session count when triggers arrived out of event-time order.
    //
    // drainTriggers=2 (round-17 decision, SCALING.md drift log): a
    // complete drain re-emits the WHOLE accumulated session table
    // every trigger, so the row's sweep cost scales with trigger
    // count while its final table — and therefore the shared batch
    // oracle — is trigger-count-invariant (the memory sink truncates
    // per trigger; the last emission IS the result). Two triggers is
    // the minimum that still exercises cross-trigger state merge; it
    // halves the write amplification this CONTRAST row deliberately
    // prices without changing what it demonstrates (the per-trigger
    // re-emission slope vs `streamSessionAppend`'s emit-once shape).
    drain(s, { ss =>
      // local pre-merge before the stateful shuffle — same decision and
      // evidence as streamSessionAppend (sf1 6.78 → 6.56 s; sf0.1
      // inside the noise band both directions, kept for the scale win
      // and so the contrast pair differs ONLY in output mode)
      ss.conf.set(
        "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition",
        "true")
      EventStream.readEvents(ss, d, drainTriggers = 2)
        .withWatermark("ts", EventStream.replayWatermark(ss, d))
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
    }, "stream_session", "complete")
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
  }

  /** Streaming HyperLogLog: the 256-register sketch maintained as a
    * streaming max-aggregate — state is the REGISTER VECTOR (256 rows,
    * constant!), not the user set, which is the whole reason sketches
    * exist in streaming: exact streaming distinct state grows with
    * cardinality, this never does. Drained, the registers equal the
    * batch sketch's (max is order-insensitive), so the estimate —
    * computed batch-side from the drained register table with the same
    * exact-integer math — shares the batch oracle verbatim.
    */
  def streamHll(s: SparkSession, d: String): DataFrame = {
    val table = drain(s, ss =>
      EventStream.readEvents(ss, d)
        .select(expr(
          "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
        .select(pmod(col("h"), lit(256L)).as("reg"),
          expr("h DIV 256").as("rest"))
        .select(col("reg"),
          when(col("rest") === 0L, lit(53L))
            .otherwise(lit(53L) - length(bin(col("rest")))).as("rank"))
        .groupBy("reg").agg(max(col("rank")).as("mj")),
      "stream_hll", "complete")
    val agg = table.agg(count(lit(1)).as("m_present"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - mj AS INT))"))
        .as("sum_pow"))
    val exact = graft.Tables.events(s, d)
      .agg(countDistinct(col("user_id")).as("exact_n"))
    agg.crossJoin(broadcast(exact))
      .select(col("exact_n"),
        round(lit(0.7182725932857715 * 256 * 256) * lit(9007199254740992.0)
          / (col("sum_pow") + (lit(256L) - col("m_present"))
            * lit(9007199254740992L)).cast("double"), 6).as("hll_est"))
  }

  /** J4/T1–T3 — ordered tree compare of the reference's two golden
    * states (the deluids delta must surface as lhs-only lines).
    */
  def compareTrees(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val a = Directory.parseDump(s, java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$refData/ldapII.txt")))
    val b = Directory.parseDump(s, java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$refData/ldap00.txt")))
    Compare.compare(a, b, "o=BMUKK", "o=BMUKK").toDF("diff_line")
  }

  /** S6 — CSV source read (delimiter/null/CHAR(3) semantics). */
  def csvSource(s: SparkSession, d: String): DataFrame =
    EtlSchema.readUsersCsv(s, s"$refData/initial_data.csv")
      .select(col("benutzername"), col("pk_uniqueid"),
        col("aktiv_st_person"), col("geburtsdatum").cast("string").as("geb"))
      .orderBy("ident_nr")

  /** S7 — event-time-cutoff dump: users referenced by events after the
    * cutoff (semi join).
    */
  def csvCutoff(s: SparkSession, d: String): DataFrame = {
    val users = EtlSchema.readUsersCsv(s, s"$refData/initial_data.csv")
    val elog = EtlSchema.readEventsCsv(s, s"$refData/eventlog03.csv")
    CsvTools.cutoffUsers(users, elog,
      java.sql.Timestamp.valueOf("2017-01-01 00:00:00"))
      .select("benutzername", "pk_uniqueid")
  }

  /** F13 — deterministic anonymizer over the reference fixture. */
  def anonymize(s: SparkSession, d: String): DataFrame =
    CsvTools.anonymizeUsers(
      EtlSchema.readUsersCsv(s, s"$refData/initial_data.csv"))
      .select("ident_nr", "vorname", "nachname", "emailadresse_st",
        "matrikelnummer")
      .orderBy("ident_nr")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_tumbling" -> (streamTumbling _),
    "q_stream_dedup" -> (streamDedup _),
    "q_stream_state_dedup" -> (streamStateDedup _),
    "q_stream_tws_dedup" -> (streamTwsDedup _),
    "q_stream_lsh_pairs" -> (streamLshPairs _),
    "q_stream_jsonl" -> (streamJsonlIngest _),
    "q_stream_join" -> (streamJoin _),
    "q_stream_join_rocksdb" -> (streamJoinRocksdb _),
    "q_stream_session" -> (streamSession _),
    "q_stream_session_append" -> (streamSessionAppend _),
    "q_stream_static" -> (streamStatic _),
    "q_stream_hll" -> (streamHll _),
    "q_stream_dedup_wm" -> (streamDedupWm _),
    "q_j4_compare_trees" -> (compareTrees _),
    "q_s6_csv_source" -> (csvSource _),
    "q_s7_csv_cutoff" -> (csvCutoff _),
    "q_f13_anonymize" -> (anonymize _),
    "q_src_jsonl" -> (graft.tools.JsonlTools.roundTrip _),
    "q_src_jsonl_gz" -> (graft.tools.JsonlTools.roundTripGz _),
    "q_src_orc" -> (graft.tools.OrcTools.roundTrip _),
    "q_src_schema_evo" -> (graft.tools.SchemaEvolution.roundTrip _),
    "q_src_partitioned" -> (graft.tools.ParquetLayout.partitionedRead _),
    "q_stream_part_sink" -> (graft.tools.ParquetLayout.streamPartitionedSink _),
    "q_stream_jsonl_gz" -> (streamJsonlIngestGz _),
  )


  /** DuckDB mirror of CsvTools.anonName (initcap ≈ upper-first since the
    * derived letters are lowercase).
    */
  private def anonNameSql(c: String): String = {
    val l = s"translate(substr(md5('name|' || $c), 1, 10), '0123456789abcdef', 'aeioubcdfghklmnp')"
    val len = s"(('0x' || substr(md5('len|' || $c), 1, 2))::BIGINT % 6 + 5)"
    s"upper(substr($l, 1, 1)) || substr($l, 2, $len - 1)"
  }

  val oracles: Map[String, String] = Map(
    // the JSONL round trip must reproduce the parquet originals
    // exactly — long/string aggregates only (floats are not bit-stable
    // through a text format)
    "q_src_jsonl" ->
      """SELECT source, count(*)::BIGINT AS n_docs, 0::BIGINT AS n_corrupt,
        |  sum(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY source""".stripMargin,
    // the ORC round trip shares the parquet-exactness contract; the
    // zero n_corrupt column is pinned (columnar ORC has no quarantine
    // path — see OrcTools)
    "q_src_orc" ->
      """SELECT source, count(*)::BIGINT AS n_docs, 0::BIGINT AS n_corrupt,
        |  sum(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY source""".stripMargin,
    // the merged scan null-fills `lang` on gen-1 files; the even/odd
    // doc_id generation split lets the oracle recompute the boundary
    // from the original table (see SchemaEvolution)
    "q_src_schema_evo" ->
      """SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_legacy,
        |  sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_evolved,
        |  sum(n_chars)::BIGINT AS sum_chars
        |FROM documents GROUP BY source""".stripMargin,
    // the partitioned-layout read answers from the partition-pruned
    // copy; the oracle asks the unpartitioned originals (the month
    // string survives the value→path→value round trip exactly)
    "q_src_partitioned" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1996-03'
        |GROUP BY 1""".stripMargin,
    // the streaming file sink's output must equal a batch one-date
    // slice of the original events (manifest + partition round trip)
    "q_stream_part_sink" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
        |GROUP BY 1""".stripMargin,
    "q_stream_tumbling" -> Windows.oracles("q_w_tumbling"),
    "q_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q_stream_state_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q_stream_tws_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    // arrival-prefix cap semantics (see streamLshPairs): pairs among
    // each band bucket's first-maxBucket members by doc_id
    "q_stream_lsh_pairs" -> {
      val bands = (0 until 4).map { b =>
        val cat = (0 until 4).map(r => s"m${b * 4 + r}::VARCHAR")
          .mkString(" || ',' || ")
        s"SELECT doc_id, $b AS band, md5($cat) AS h FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH sig AS (${graft.ops.Dedup.sigSql}), bands0 AS ($bands),
         |ranked AS (SELECT doc_id, band, h,
         |    row_number() OVER (PARTITION BY band, h ORDER BY doc_id) AS rk
         |  FROM bands0),
         |kept AS (SELECT doc_id, band, h FROM ranked
         |         WHERE rk <= ${graft.ops.Dedup.maxBucket})
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM kept a JOIN kept b ON a.band = b.band AND a.h = b.h
         |  AND a.doc_id < b.doc_id""".stripMargin
    },
    "q_stream_jsonl" ->
      """SELECT source, count(*)::BIGINT AS n_distinct,
        |  sum(length(text))::BIGINT AS sum_chars
        |FROM (SELECT DISTINCT source, text FROM documents
        |      WHERE text IS NOT NULL) x
        |GROUP BY source""".stripMargin,
    // the gz shards must round-trip to the identical summaries — the
    // codec is transparent to schema enforcement and dedup
    "q_src_jsonl_gz" ->
      """SELECT source, count(*)::BIGINT AS n_docs, 0::BIGINT AS n_corrupt,
        |  sum(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY source""".stripMargin,
    "q_stream_jsonl_gz" ->
      """SELECT source, count(*)::BIGINT AS n_distinct,
        |  sum(length(text))::BIGINT AS sum_chars
        |FROM (SELECT DISTINCT source, text FROM documents
        |      WHERE text IS NOT NULL) x
        |GROUP BY source""".stripMargin,
    "q_stream_dedup_wm" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q_stream_hll" -> graft.ops.Sketches.oracles("q_sk_hll"),
    "q_stream_static" ->
      """SELECT c.c_mktsegment, count(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin,
    // gap-sessionization islands at µs precision; session end = last
    // event + gap (Spark windows are [start, end), so a gap exactly
    // equal to 30 min starts a new session on both sides)
    "q_stream_session" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus FROM events),
        |m AS (
        |  SELECT user_id, tus,
        |    CASE WHEN lag(tus) OVER w IS NULL
        |           OR tus - lag(tus) OVER w >= 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
        |s AS (
        |  SELECT user_id, tus,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tus
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(tus) AS start_us,
        |  max(tus) + 1800000000 AS end_us, count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,
    // append-mode emission horizon: watermark at drain end is
    // max(event time) - 10 min, and a session is final (emitted) iff
    // its end has fallen at-or-below it — the same horizon applied to
    // the batch islands
    "q_stream_session_append" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus FROM events),
        |m AS (
        |  SELECT user_id, tus,
        |    CASE WHEN lag(tus) OVER w IS NULL
        |           OR tus - lag(tus) OVER w >= 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
        |s AS (
        |  SELECT user_id, tus,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tus
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, start_us, end_us, n_events FROM (
        |  SELECT user_id, min(tus) AS start_us,
        |    max(tus) + 1800000000 AS end_us, count(*) AS n_events
        |  FROM s GROUP BY user_id, sid) sess
        |WHERE end_us <= (SELECT max(tus) FROM e) - 600000000""".stripMargin,
    // the watermark only bounds state, never drops rows here: the
    // fixture is one file = one in-order batch, so the drained stream
    // join equals the batch interval join exactly. The oracle compares
    // at µs precision (epoch_ns // 1000) because Spark timestamps are
    // µs — an ns-precision compare would diverge on sub-µs boundaries.
    "q_stream_join" ->
      """SELECT l.event_id AS l_id, r.event_id AS r_id
        |FROM events l JOIN events r
        |  ON r.user_id = l.user_id
        |  AND (epoch_ns(r.ts) // 1000) >= (epoch_ns(l.ts) // 1000) - 60000000
        |  AND (epoch_ns(r.ts) // 1000) < (epoch_ns(l.ts) // 1000)""".stripMargin,
    // the provider swap may not change a single emitted row — the
    // RocksDB twin shares the HDFS-store query's oracle verbatim
    "q_stream_join_rocksdb" ->
      """SELECT l.event_id AS l_id, r.event_id AS r_id
        |FROM events l JOIN events r
        |  ON r.user_id = l.user_id
        |  AND (epoch_ns(r.ts) // 1000) >= (epoch_ns(l.ts) // 1000) - 60000000
        |  AND (epoch_ns(r.ts) // 1000) < (epoch_ns(l.ts) // 1000)""".stripMargin,
    // the compare output is fixture-bound and deterministic: the two
    // trees differ exactly by the deluids pair (reference testdata)
    "q_j4_compare_trees" ->
      """SELECT * FROM (VALUES
        |  ('Only in lhs: cn=ajiqon.qajk.21,ou=user,ou=ph08,o=BMUKK'),
        |  ('Only in lhs: cn=jnas.orxzgyno.20,ou=user,ou=ph08,o=BMUKK'))
        |  t(diff_line)""".stripMargin,
    "q_s7_csv_cutoff" ->
      s"""SELECT benutzername, CAST(pk_uniqueid AS DOUBLE) AS pk_uniqueid
         |FROM read_csv('$refData/initial_data.csv',
         |  delim=';', header=true, nullstr='', all_varchar=true)
         |WHERE CAST(pk_uniqueid AS DOUBLE) IN (
         |  SELECT DISTINCT CAST(str_split(table_key, '=')[2] AS DOUBLE)
         |  FROM read_csv('$refData/eventlog03.csv',
         |    delim=';', header=true, nullstr='', all_varchar=true)
         |  WHERE strptime(event_time, '%Y-%m-%d %H:%M:%S') >
         |    TIMESTAMP '2017-01-01 00:00:00')""".stripMargin,
    "q_f13_anonymize" ->
      s"""SELECT CAST(ident_nr AS DOUBLE) AS ident_nr,
         |  CASE WHEN vorname IS NOT NULL THEN ${anonNameSql("vorname")} END AS vorname,
         |  CASE WHEN nachname IS NOT NULL THEN ${anonNameSql("nachname")} END AS nachname,
         |  CASE WHEN emailadresse_st IS NOT NULL
         |    THEN ${anonNameSql("emailadresse_st")} || '@example.org' END AS emailadresse_st,
         |  CASE WHEN matrikelnummer IS NOT NULL
         |    THEN ((('0x' || substr(md5('int|' || matrikelnummer), 1, 12))::BIGINT % 90000000 + 10000000))::VARCHAR
         |    END AS matrikelnummer
         |FROM read_csv('$refData/initial_data.csv',
         |  delim=';', header=true, nullstr='', all_varchar=true)
         |ORDER BY CAST(ident_nr AS DOUBLE)""".stripMargin,
    "q_s6_csv_source" ->
      s"""SELECT benutzername, CAST(pk_uniqueid AS DOUBLE) AS pk_uniqueid,
         |  CASE WHEN aktiv_st_person IS NOT NULL
         |    THEN rpad(aktiv_st_person, 3, ' ') END AS aktiv_st_person,
         |  CASE WHEN geburtsdatum IS NOT NULL
         |    THEN strftime(strptime(geburtsdatum, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') END AS geb
         |FROM read_csv('$refData/initial_data.csv',
         |  delim=';', header=true, nullstr='', all_varchar=true)
         |ORDER BY CAST(ident_nr AS DOUBLE)""".stripMargin,
  )
}
