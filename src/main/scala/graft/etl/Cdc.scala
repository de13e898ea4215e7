package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Directory.Entry

/** §3.1 — the CDC micro-batch: one poll cycle of the reference's `etl`
  * action (etl.py:576–733):
  *
  *   garbage-collect → scan ≤N new/errored events → validate (P3, fatal
  *   rows routed to status F, never exceptions) → J1 join to current
  *   user rows → MERGE the present uids / delete-mark the absent ones →
  *   status matrix (C8: S/W/E/F with retry counter) → eventlog
  *   writeback.
  *
  * The reference applies events one at a time and re-reads the current
  * DB row per event, so replays are idempotent; the engine exploits
  * exactly that: one MERGE per distinct uid, while the status matrix
  * still produces a verdict per event (sequencing within a uid is
  * reconstructed from record_id order — SURVEY.md §4.3).
  *
  * Two bodies, one semantics, gated on the batch cap:
  *  - `maxRecords <= localBatchBound` (the poll loop's capped batches):
  *    the driver-local body (`LocalCycle`). The distributed tables are
  *    touched by one batch collect, one user lookup, one candidate-entry
  *    lookup (plus a ph15-twin lookup when the batch deletes), a narrow
  *    broadcast commit and a broadcast eventlog write-back; everything
  *    batch-sized in between runs on the collected rows — about 7 Spark
  *    jobs and no shuffle per cycle, whatever the snapshot size.
  *  - larger or unbounded caps (`Int.MaxValue`: a full drain, the
  *    streaming micro-batch, `q_etl_scale_cdc`): the set-based body
  *    below, whose every step is a join or aggregate over the batch —
  *    the only body that can run a batch the driver cannot hold.
  * The status and warning rules (`verdicts`, `failedVerdicts`) and the
  * write-back are shared Column definitions; `CdcLocalSpec` holds the
  * two bodies equal on seeded backlogs.
  */
object Cdc {
  /** Largest batch cap that may FORCE a uid-set broadcast in the batch
    * lookup join: 1M distinct long uids build to low tens of MB on the
    * driver — safely inside a 64m autoBroadcastJoinThreshold. Larger
    * caps leave the join to the planner/AQE.
    */
  val broadcastUidBound: Int = 1 << 20

  /** Largest batch cap that runs the driver-local body. Every event of a
    * batch can replace at most one entry, and a replacement entry is
    * ~2 KB, so 1<<15 events keep the commit's broadcast relation of
    * replacements inside the 64m broadcast threshold the commit relies
    * on (and the collected batch, user rows and candidate entries
    * inside a modest driver heap).
    */
  val localBatchBound: Int = 1 << 15

  /** `selected` is the number of events the cycle picked (its batch
    * size) — lazy, because only the poll loop's drain rule needs it and
    * the set-based body pays a count for it. `pendingAfter` is the
    * eventlog's N/E backlog after the cycle when the body knows it
    * without a job (the local body on a batch below its cap: every
    * pending event was selected, so exactly the E verdicts stay
    * pending); `None` means count the written-back eventlog.
    */
  final case class CycleResult(
      snapshot: Dataset[Entry],
      eventlog: DataFrame,        // full table with statuses written back
      eventUpdates: DataFrame,    // record_id, status, error_message, attempt
      renames: DataFrame,         // old_cn, new_cn queue for ph15 (C3)
      pendingAfter: Option[Long] = None)(selectedCount: => Long) {
    lazy val selected: Long = selectedCount
  }

  private def trimEq(c: Column, v: String): Column =
    graft.functions.ConvertF.char3Eq(c, v)

  /** S3 — the work queue: events in status N or E (status flags are the
    * offsets).
    */
  private[etl] def pendingEvents(eventlog: DataFrame): DataFrame =
    eventlog.filter(trimEq(col("status"), "N") || trimEq(col("status"), "E"))

  /** P3 — validation with error routing (etl.py:615–652): adds `v_error`
    * (NULL for a valid event) and the parsed `uid`. NULL fields must
    * fail validation, not slip through a null-valued when(): every
    * predicate is explicitly null-armed.
    */
  private[etl] def validate(batch: DataFrame, conf: EtlConf): DataFrame = {
    val uidStr = expr("split(table_key, '=', 2)[1]")
    batch.withColumn("v_error",
      when(col("event_type").isNull || !col("event_type").isin(4.0, 5.0, 6.0),
        concat(lit(s"Invalid event_type in ${conf.db}: "),
          coalesce(col("event_type").cast("string"), lit("None"))))
        .when(col("table_key").isNull ||
            !col("table_key").startsWith("pk_uniqueid="),
          lit(s"Invalid table_key in ${conf.db}, expect pk_uniqueid="))
        .when(col("table_name").isNull ||
            lower(col("table_name")) =!= "benutzer_alle_dirxml_v",
          lit(s"Invalid table_name in ${conf.db}, expect benutzer_alle_dirxml_v"))
        .when(!coalesce(uidStr.rlike("^\\s*[+-]?[0-9]+\\s*$"), lit(false)),
          concat(lit("Invalid table_key: "), coalesce(uidStr, lit("None")),
            lit(s" in ${conf.db}, expect numeric id"))))
      .withColumn("uid", when(col("v_error").isNull, uidStr.cast("long")))
  }

  /** C8 — status matrix per valid event (etl.py:689–718). `ev` carries
    * record_id, uid, event_type, attempt, the per-uid merge aggregates
    * (pre_matched, pre_dn, add_dn, kernel_error, kernel_warning, row_n
    * with 0 for a uid without rows) and first_rid, the uid's first
    * record_id in the batch. Returns one verdict row per event.
    */
  private[etl] def verdicts(ev0: DataFrame, conf: EtlConf,
      readTime: java.sql.Timestamp): DataFrame = {
    val ev = ev0
      .withColumn("exists_at",
        coalesce(col("pre_matched"), lit(false)) ||
          (col("row_n") > 0 && col("record_id") > col("first_rid")))
      .withColumn("matched_dn", coalesce(col("pre_dn"), col("add_dn")))

    val isInsert = col("event_type") === 5.0
    val isDelete = col("event_type") === 4.0

    // base warning: "row exists on delete" overwrites "duplicate rows"
    // (dict replacement in the reference, etl.py:658–688)
    val baseW =
      when(col("row_n") >= 1 && isDelete,
        concat(lit("Record "), col("uid"), lit(s" existing in DB ${conf.db}")))
        .when(col("row_n") > 1,
          concat(lit("Duplicate pk_uniqueid: "), col("uid"),
            lit(s" in ${conf.db}")))
    // sync-path warning per event (reconstructed sequencing; see
    // header). For an insert whose matched entry carries a different
    // phonlineUniqueId, the reference overwrites "should be new" with
    // the uid-mismatch text (etl.py:981–989) — so the kernel warning
    // wins for the first event of the uid, and the reconstruction is
    // the fallback.
    val syncW =
      when(col("row_n") >= 1 && isInsert && col("exists_at"),
        coalesce(
          when(col("record_id") === col("first_rid"), col("kernel_warning")),
          concat(lit("Found dn \""), col("matched_dn"),
            lit("\" when sync says it should be new"))))
        .when(col("row_n") >= 1 && !isInsert &&
            col("record_id") === col("first_rid"), col("kernel_warning"))
        .when(col("row_n") === 0 && !isDelete,
          concat(lit("Record "), col("uid"), lit(" not existing in DB")))

    val warnMsg = concat_ws("\n", baseW, syncW)
    val hasErr = col("kernel_error").isNotNull && col("row_n") >= 1
    val attemptNow = coalesce(col("attempt"), lit(0.0)).cast("int")
    val statusCol =
      when(hasErr && attemptNow > 10, "F")
        .when(hasErr, "E")
        .when(length(warnMsg) > 0, "W")
        .otherwise("S")
    val errMsgCol =
      when(hasErr, col("kernel_error"))
        .when(length(warnMsg) > 0, warnMsg)
    val attemptCol = when(hasErr, attemptNow + 1)

    ev.select(
      col("record_id"),
      statusCol.as("new_status"),
      errMsgCol.as("new_error"),
      attemptCol.cast("double").as("new_attempt"),
      lit(readTime).as("new_read"))
  }

  /** Verdicts of the events that failed validation: status F with the
    * validation message. They `continue` before the reference's
    * read_time stamp (etl.py:615–652 vs 718): no read_time for them.
    */
  private[etl] def failedVerdicts(validated: DataFrame): DataFrame =
    validated.filter(col("v_error").isNotNull)
      .select(col("record_id"), lit("F").as("new_status"),
        col("v_error").as("new_error"),
        lit(null).cast("double").as("new_attempt"),
        lit(null).cast("timestamp").as("new_read"))

  /** S16 — batched writeback, one idempotent overwrite per cycle. */
  private[etl] def writeBack(eventlog: DataFrame, allUpdates: DataFrame)
      : DataFrame =
    eventlog.alias("e")
      .join(allUpdates.alias("u"), col("e.record_id") === col("u.record_id"),
        "left_outer")
      .select(
        (eventlog.columns.filterNot(Set("status", "error_message", "attempt",
          "read_time")).map(c => col("e." + c)) ++ Seq(
          // the eventlog status column is CHAR(3) — re-pad like the
          // source database stores it (readEventsCsv does the same)
          coalesce(rpad(col("u.new_status"), 3, " "), col("e.status"))
            .as("status"),
          coalesce(col("u.new_error"), col("e.error_message")).as("error_message"),
          coalesce(col("u.new_attempt"), col("e.attempt")).as("attempt"),
          coalesce(col("u.new_read"), col("e.read_time")).as("read_time"))): _*)
      .select(EtlSchema.eventFields.map(col): _*)

  /** One poll cycle. `users` is the current user table state; `eventlog`
    * the current event table; returns the post-cycle snapshot and
    * eventlog. A cap up to `localBatchBound` runs the driver-local body,
    * a larger one the set-based body (see the object doc).
    */
  def cycle(snapshot0: Dataset[Entry], users: DataFrame, eventlog: DataFrame,
      conf: EtlConf, maxRecords: Int = 100,
      readTime: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis / 1000 * 1000))
      : CycleResult =
    if (maxRecords <= localBatchBound)
      LocalCycle.run(snapshot0, users, eventlog, conf, maxRecords, readTime)
    else cycleSet(snapshot0, users, eventlog, conf, maxRecords, readTime)

  /** The set-based body: every step a join or aggregate over the batch. */
  private def cycleSet(snapshot0: Dataset[Entry], users: DataFrame,
      eventlog: DataFrame, conf: EtlConf, maxRecords: Int,
      readTime: java.sql.Timestamp): CycleResult = {
    val spark = snapshot0.sparkSession
    import spark.implicits._

    // C6 — collect already-ETD-synced deleted entries at cycle start;
    // the reference never garbage-collects the ph15 instance itself
    // (etl.py:406–407)
    val snap1 =
      if (conf.isPh15) snapshot0
      else SyncEngine.garbageCollect(snapshot0, conf)

    // S3 — bounded work-queue scan. An unbounded batch (Int.MaxValue)
    // skips the global sort entirely — the cap exists only to emulate
    // the reference's cycle batching, and a top-2^31 sort would be pure
    // waste on a process-everything scan.
    val pendingEv = pendingEvents(eventlog)
    val batch =
      if (maxRecords == Int.MaxValue) pendingEv
      else pendingEv.orderBy("record_id").limit(maxRecords)

    val validated = validate(batch, conf)
    val valid = validated.filter(col("v_error").isNull)
      .select(col("record_id"), col("uid"), col("event_type"),
        col("attempt"))

    // J1 — current user rows for the batch's uids (set-based lookup).
    // On a SMALL capped batch the uid set is bounded by maxRecords, so
    // it BROADCASTS: the users table — the 100 TB side — is probed in
    // place, never shuffled. The hint is gated on a broadcast-SAFE
    // bound, not merely on the cap being finite: a finite-but-large cap
    // (say 10M) would otherwise force a driver-side build of up to
    // maxRecords uids past autoBroadcastJoinThreshold and risk driver
    // OOM. Above the bound — and for an unbounded drain — the shuffle
    // join stands, and AQE still downgrades to broadcast when the
    // RUNTIME size allows.
    val batchUids0 = valid.select(col("uid")).distinct()
    val batchUids =
      if (maxRecords <= Cdc.broadcastUidBound) broadcast(batchUids0)
      else batchUids0
    val batchUsers = users
      .join(batchUids, users("pk_uniqueid").cast("long") === batchUids("uid"),
        "left_semi")

    // MERGE the uids that still have rows (is_new=false: event_type only
    // influences warnings, which the status matrix reconstructs).
    // Materialized once (LAZY checkpoint: computed inside the first
    // consuming job, reused by every later one): the merge, the row
    // counts, and the ph15 write-through all consume it — without this
    // the users join + the 30-column conversion projection re-execute
    // per consumer; with an EAGER checkpoint every cycle pays a
    // separate up-front job even when the consumer evaluates only the
    // event-status side of the result.
    val newRows0 = SyncEngine.toNewRows(batchUsers).localCheckpoint(false)
    val newRows = newRows0.withColumn("is_new", lit(false))
    val (snapMerged, outcomes) = SyncEngine.merge(snap1, newRows, conf)

    // raw DB-row count per uid — counted BEFORE the merge's cn-dedup so
    // the duplicate-uid warning fires exactly when the reference's
    // len(usr) > 1 does (etl.py:658–664)
    val rowCounts = newRows0.groupBy(col("src_uid"))
      .agg(count(lit(1)).as("row_n"))

    // delete-mark uids with no user row left (etl.py:684–688).
    // Deliberately the UNhinted frame: a broadcast hint on the LEFT
    // (stream) side of a left_anti is unsupported — Spark would log
    // "Hint ... not supported" and ignore it. The hint belongs only to
    // the semi-join above, where batchUids is the build side.
    val uidsWithRows = rowCounts.select(col("src_uid"))
    val goneUids = batchUids0
      .join(uidsWithRows, col("uid").cast("string") === col("src_uid"),
        "left_anti")
      .select(col("uid").cast("string")).as[String]
    val snapFinal = SyncEngine.deleteInLdap(snapMerged, goneUids, conf)

    // C8 — status matrix per event (etl.py:689–718). Multiple DB rows
    // for one uid can each raise a kernel error; the reference appends
    // one message per row ('\n'-joined, etl.py msg list) — mirrored
    // here with a sorted join so no row's diagnostic is lost.
    val uidAgg = outcomes.toDF.groupBy(col("srcUid"))
      .agg(
        max(col("consumedDn").isNotNull).as("pre_matched"),
        max(col("consumedDn")).as("pre_dn"),
        max(when(col("consumedDn").isNull && col("changed"),
          col("resultDn"))).as("add_dn"),
        collect_list(col("error")).as("kernel_errors"),
        max(col("warning")).as("kernel_warning"))
      .withColumn("kernel_error",
        when(size(col("kernel_errors")) > 0,
          array_join(array_sort(col("kernel_errors")), "\n")))
      .drop("kernel_errors")
      .join(rowCounts, col("srcUid") === col("src_uid"), "left_outer")
      .drop("src_uid")

    val ev = valid
      .join(uidAgg, col("uid").cast("string") === col("srcUid"), "left_outer")
      .withColumn("row_n", coalesce(col("row_n"), lit(0L)))
      .withColumn("first_rid", min(col("record_id")).over(
        Window.partitionBy(col("uid"))))

    val allUpdates = verdicts(ev, conf, readTime)
      .unionByName(failedVerdicts(validated))
    val updated = writeBack(eventlog, allUpdates)

    // C3 — rename queue for the end-of-cycle ph15 pass
    val renames = outcomes.toDF
      .filter(col("renameOldCn").isNotNull)
      .select(col("renameOldCn").as("old_cn"), col("srcCn").as("new_cn"))

    // C9 — immediate write-through of name/password changes into ph15
    // (etl.py:1043–1054, 1112–1165): applies only when syncing a
    // non-ph15 instance that has a ph15 partner configured
    val snapWithPh15 =
      if (conf.ph15Dn.isEmpty || conf.isPh15) snapFinal
      else ph15Writethrough(snapFinal, newRows0, outcomes.toDF, conf)

    CycleResult(snapWithPh15, updated, allUpdates, renames)(batch.count())
  }

  /** Source columns whose change is written through to the ph15 twin. */
  private[etl] val writethroughKeys: Seq[String] =
    EtlSchema.ph15Writethrough :+ "passwort"

  /** The attributes one changed source row writes into its ph15 twin:
    * the changed write-through columns, the password re-encrypted; an
    * absent value writes nothing (attributes are never deleted there).
    */
  private[etl] def writethroughPatch(newAttrs: Map[String, Seq[String]],
      pw: Option[String], changedKeys: Seq[String], conf: EtlConf)
      : Map[String, Seq[String]] = {
    val attrs = scala.collection.mutable.Map.empty[String, Seq[String]]
    changedKeys.filter(writethroughKeys.contains).foreach {
      case "passwort" =>
        pw.foreach { p =>
          attrs("idnDistributionPassword") =
            Seq(Aes.encryptHex(p, conf.aesKey, conf.cryptoIvHex))
          attrs("userPassword") = Seq("{CRYPT}")
        }
      case k =>
        newAttrs.get(EtlSchema.odbcToLdap(k)).foreach { v =>
          attrs(EtlSchema.odbcToLdap(k)) = v // never delete in ph15
        }
    }
    attrs.toMap
  }

  /** C9 — patch the ph15 twin entry (matched by cn under the ph15 base)
    * for rows whose changed columns include the write-through set;
    * absent twins are skipped, attributes are never deleted there, and
    * no etlTimestamp is stamped (etl.py:1112–1165).
    */
  private def ph15Writethrough(snapshot: Dataset[Entry], newRows0: DataFrame,
      outcomes: DataFrame, conf: EtlConf): Dataset[Entry] = {
    import snapshot.sparkSession.implicits._
    val hits = outcomes
      .filter(col("changed") && arrays_overlap(col("changedSrcKeys"),
        typedLit(writethroughKeys)))
      .select(col("srcCn").as("wt_cn"), col("changedSrcKeys"))
    if (hits.isEmpty) return snapshot
    // one row per cn (case-insensitively, like the merge's cn-dedup,
    // same tiebreak) — duplicate DB rows must not fan the single ph15
    // twin entry out into duplicate dns
    val cnW = Window.partitionBy(lower(col("src_cn")))
      .orderBy(SyncEngine.cnDedupOrder: _*)
    val rows = newRows0
      .withColumn("cn_rn", row_number().over(cnW))
      .filter(col("cn_rn") === 1)
      .drop("cn_rn")
      .join(hits, lower(col("src_cn")) === lower(col("wt_cn")))
    val changesDs = rows.select(col("src_cn"), col("new_attrs"),
      col("pw_plain"), col("changedSrcKeys"))
      .as[(String, Map[String, Seq[String]], Option[String], Seq[String])]
    val patch = changesDs.map { case (cn, newAttrs, pw, changedKeys) =>
      (s"cn=$cn,${conf.dn15}", writethroughPatch(newAttrs, pw, changedKeys, conf))
    }.toDF("p_dn", "p_attrs")
    // the twin is matched case-insensitively (LDAP caseIgnoreMatch,
    // same rule as the merge's cn match): a case-divergent twin — e.g.
    // a case-only rename still sitting in the rename queue — must
    // still receive the write-through
    snapshot.toDF
      .join(patch, lower(col("dn")) === lower(col("p_dn")), "left_outer")
      .select(col("dn"),
        when(col("p_attrs").isNotNull,
          map_concat(
            map_filter(col("attrs"),
              (k, _) => !map_contains_key(col("p_attrs"), k)),
            col("p_attrs")))
          .otherwise(col("attrs")).as("attrs"))
      .as[Entry]
  }

  /** Read-only mode (etl.py:579–592, 719–721): the source eventlog is
    * not writable, so the offset is an event_time high-water mark
    * instead of status flags; events are selected by `event_time > hwm`
    * and the new HWM is the max seen. The reference keeps it in memory
    * (lost on restart, re-initialized to 2017-01-01); here it is a
    * checkpointed offset (HwmStore).
    *
    * The batch is selected ordered by (event_time, record_id) so the
    * HWM cut is consistent with the selection order: every event left
    * out of a full batch has event_time >= every selected event, so
    * nothing below the new HWM is ever skipped. The only remaining
    * caveat is the reference's own (its comment, etl.py:580–585): when
    * more than `maxRecords` events share the boundary timestamp, the
    * ties beyond the cut are lost — size `maxRecords` above the
    * worst-case burst per timestamp (or use the writable-status mode,
    * which has exact offsets).
    */
  def cycleReadOnly(snapshot0: Dataset[Entry], users: DataFrame,
      eventlog: DataFrame, conf: EtlConf,
      hwm: java.sql.Timestamp, maxRecords: Int = 100)
      : (CycleResult, java.sql.Timestamp) = {
    val batchSource = eventlog
      .filter(col("event_time") > lit(hwm))
      // neutralize the status-flag offset: read-only mode selects by
      // time regardless of prior verdicts
      .withColumn("status", lit("N  "))
      .orderBy(col("event_time"), col("record_id"))
      .limit(maxRecords)
    val r = cycle(snapshot0, users, batchSource, conf, maxRecords)
    val newHwm = batchSource.agg(max(col("event_time"))).head().getTimestamp(0)
    (r, if (newHwm == null || newHwm.before(hwm)) hwm else newHwm)
  }

  /** Checkpointed HWM offsets, one per (db) source — atomic file swap
    * like the snapshot pointer.
    */
  object HwmStore {
    private val init = java.sql.Timestamp.valueOf("2017-01-01 00:00:00")
    def load(dir: String, db: String): java.sql.Timestamp = {
      val p = java.nio.file.Paths.get(s"$dir/hwm_$db")
      if (java.nio.file.Files.exists(p))
        java.sql.Timestamp.valueOf(java.nio.file.Files.readString(p).trim)
      else init
    }
    def save(dir: String, db: String, hwm: java.sql.Timestamp): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val tmp = java.nio.file.Paths.get(s"$dir/hwm_$db.tmp")
      java.nio.file.Files.writeString(tmp, hwm.toString)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$dir/hwm_$db"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** C3 — end-of-cycle rename propagation into ph15 (etl.py:762–781):
    * re-sync user rows whose benutzername matches either side of a
    * queued rename, against the ph15 base.
    *
    * Scale bound: `renames` is derived from the CURRENT cycle's
    * outcomes (one row per rename event in the batch), so its size is
    * ≤ the cycle's event cap (`maxRecords` — 100 in the reference's
    * poll loop, 10k in the bench) regardless of snapshot or user-table
    * size; the key set is ≤ 2× that. It is therefore always a small
    * frame at 100 TB too — but we deliberately do NOT hint
    * `broadcast(keys)`: Catalyst's size-estimated auto-broadcast makes
    * the same choice when the bound holds, and if an operator misuse
    * ever feeds an unbounded frame here the plan degrades to a shuffle
    * semi join instead of a driver OOM. RenameCascadeSpec pins the
    * absence of an unconditional hint.
    */
  def updatePh15Cn(snapshot: Dataset[Entry], users: DataFrame,
      renames: DataFrame, ph15Conf: EtlConf): Dataset[Entry] = {
    if (renames.isEmpty) return snapshot
    val keys = renames.select(col("old_cn").as("k"))
      .unionByName(renames.select(col("new_cn").as("k")))
      .distinct()
    val hit = users.join(keys, trim(col("benutzername")) === col("k"),
      "left_semi")
    val rows = SyncEngine.toNewRows(hit).withColumn("is_new", lit(false))
    SyncEngine.merge(snapshot, rows, ph15Conf)._1
  }
}
