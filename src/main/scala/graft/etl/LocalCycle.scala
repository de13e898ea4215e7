package graft.etl

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import Directory.Entry
import SyncEngine.{MatchIn, MergeRow}

/** The driver-local body of a capped CDC cycle (`Cdc.cycle` with
  * `maxRecords <= Cdc.localBatchBound`): the same semantics as the
  * set-based body, at a cost that follows the batch, not the snapshot.
  *
  * The distributed tables are touched only by:
  *  1. one collect of the pending batch (validated afterwards by the
  *     shared rules, `Cdc.validate`, over the collected rows);
  *  2. one user-row lookup for the batch's uids (`toNewRows` plus the
  *     cn-dedup keys in the same projection);
  *  3. one candidate-entry lookup: entries under the base whose lower(cn)
  *     or phonlineUniqueId is a batch key (and the ph15 twins of the
  *     batch's cns when write-through is on), plus a second lookup for
  *     the ph15 twins of deleted entries only when the batch deletes;
  *  4. the commit: one narrow pass over the snapshot, broadcast-joined
  *     against a local relation of replacements and removals, the adds
  *     unioned and the result coalesced back to the input's partition
  *     count (without it every cycle's union would add partitions);
  *  5. one broadcast write-back into the eventlog.
  * Everything batch-sized in between runs on the collected rows: the
  * cn-dedup, the cn and ambiguity-aware uid match, the typed kernel
  * `SyncEngine.mergeOne` (proven equal to `mergeRowsPlan` by
  * `MergeKernelEquivalenceSpec`), the per-dn change dedup, the deletes
  * and the ph15 sweep, the write-through and the per-uid aggregates. The
  * verdicts come from the shared Column rules (`Cdc.verdicts`) applied
  * to a local relation of per-event rows, which Spark folds on the
  * driver without a job.
  *
  * Values that only exist on the driver are compared the way Spark
  * compares them: strings by UTF-8 bytes (`UTF8String.binaryCompare`),
  * dn parts with the same regexes as `Directory.parentDnCol` /
  * `rdnValueCol`; lower-cased keys are computed by Spark in the lookups.
  * Like the set-based body it assumes unique dns (the MERGE contract,
  * `Directory.duplicateDns`).
  */
private[etl] object LocalCycle {

  /** One user row of the batch: `toNewRows` plus its cn-dedup keys. */
  private final case class Src(cn: String, uid: String, pw: Option[String],
      attrs: Map[String, Seq[String]], cnKey: String, uidL: Option[Long],
      attrsHash: Long, twinKey: String)

  /** One candidate entry with its Spark-lowered keys. */
  private final case class Cand(e: Entry, cnKey: String, dnKey: String)

  private val utf8: Ordering[String] = (a, b) =>
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** Descending with nulls last, as a Spark `desc_nulls_last` key. */
  private def descNullsLast[T](a: Option[T], b: Option[T])(o: Ordering[T]): Int =
    (a, b) match {
      case (Some(x), Some(y)) => o.compare(y, x)
      case (None, None) => 0
      case (None, _) => 1
      case _ => -1
    }

  /** `SyncEngine.cnDedupOrder`: highest uid, then the content hash, then
    * the password.
    */
  private val dedupOrder: Ordering[Src] = (a, b) => {
    val u = descNullsLast(a.uidL, b.uidL)(Ordering.Long)
    if (u != 0) u
    else {
      val h = java.lang.Long.compare(b.attrsHash, a.attrsHash)
      if (h != 0) h else descNullsLast(a.pw, b.pw)(utf8)
    }
  }

  /** `applyMerge`'s per-dn winner: highest (uid, cn). */
  private val changeOrder: Ordering[MergeRow] = (a, b) => {
    val u = java.lang.Long.compare(a.srcUid.toLong, b.srcUid.toLong)
    if (u != 0) u else utf8.compare(a.srcCn, b.srcCn)
  }

  private val firstRdn = java.util.regex.Pattern.compile("^[^=]*=([^,]*)")
  /** `Directory.parentDnCol` on a driver-side dn. */
  private def parentOf(dn: String): String = dn.replaceFirst("^[^,]*,", "")
  /** `Directory.rdnValueCol` on a driver-side dn. */
  private def rdnOf(dn: String): String = {
    val m = firstRdn.matcher(dn)
    if (m.find()) m.group(1) else ""
  }
  private def uidOf(e: Entry): Option[String] =
    e.attrs.get("phonlineUniqueId").flatMap(_.headOption)

  private def attrsOf(r: Row, i: Int): Map[String, Seq[String]] =
    r.getMap[String, scala.collection.Seq[String]](i).iterator
      .map { case (k, v) => k -> v.toSeq }.toMap

  private def entries(df: DataFrame): Array[Cand] =
    df.select(col("dn"), col("attrs"),
        lower(Directory.rdnValueCol(col("dn"))), lower(col("dn")))
      .collect()
      .map(r => Cand(Entry(r.getString(0), attrsOf(r, 1)), r.getString(2),
        r.getString(3)))

  def run(snapshot0: Dataset[Entry], users: DataFrame, eventlog: DataFrame,
      conf: EtlConf, maxRecords: Int, readTime: java.sql.Timestamp)
      : Cdc.CycleResult = {
    val spark = snapshot0.sparkSession
    import spark.implicits._

    // C6 — the same garbage collection as the set-based body; a filter,
    // so every lookup and the commit below read through it
    val snap1 =
      if (conf.isPh15) snapshot0
      else SyncEngine.garbageCollect(snapshot0, conf)

    // 1 — the batch in record_id order: one job (a sort + limit at the
    // root of a collect is a per-partition top-k), then the shared
    // validation over the collected rows as a local relation, which
    // Spark evaluates on the driver
    val raw = Cdc.pendingEvents(eventlog)
      .select("record_id", "table_key", "event_type", "table_name", "attempt")
      .orderBy("record_id").limit(maxRecords)
    val batchDf = Cdc.validate(
        spark.createDataFrame(raw.collect().toSeq.asJava, raw.schema), conf)
      .select("record_id", "uid", "event_type", "attempt", "v_error")
    val batch = batchDf.collect()
    val (okEv, badEv) = batch.partition(_.isNullAt(4))
    val batchUids: Seq[Long] =
      okEv.filterNot(_.isNullAt(1)).map(_.getLong(1)).distinct.toSeq

    // 2 — the batch's user rows (one job)
    val writeThrough = conf.ph15Dn.nonEmpty && !conf.isPh15
    val newRows: Seq[Src] =
      if (batchUids.isEmpty) Nil
      else SyncEngine.toNewRows(
          users.filter(col("pk_uniqueid").cast("long").isin(batchUids: _*)))
        .select(col("src_cn"), col("src_uid"), col("pw_plain"),
          col("new_attrs"), lower(col("src_cn")),
          col("src_uid").cast("long"),
          xxhash64(to_json(col("new_attrs"))),
          if (writeThrough)
            lower(concat(lit("cn="), col("src_cn"), lit("," + conf.dn15)))
          else lit(null).cast("string"))
        .collect().toSeq
        .map(r => Src(r.getString(0), r.getString(1),
          Option(r.getString(2)), attrsOf(r, 3), r.getString(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)), r.getLong(6),
          r.getString(7)))
    // raw DB-row count per uid, before the cn-dedup (see the set-based
    // body); uids with no row left are deleted
    val rowCounts: Map[String, Long] = newRows.filter(_.uid != null)
      .groupBy(_.uid).map { case (u, rs) => u -> rs.size.toLong }
    val gone: Set[String] =
      batchUids.map(_.toString).filterNot(rowCounts.contains).toSet

    // within-batch cn-dedup: one row per lower(cn), rows without a cn kept
    val deduped: Seq[Src] = newRows.filter(_.cn == null) ++
      newRows.filter(_.cn != null).groupBy(_.cnKey).values
        .map(_.min(dedupOrder)).toSeq.sortBy(_.cnKey)

    // 3 — candidate entries (one job)
    val cnKeys = deduped.flatMap(s => Option(s.cnKey)).distinct
    val uidKeys = (deduped.flatMap(s => Option(s.uid)) ++ gone).distinct
    val twinKeys =
      if (writeThrough) deduped.flatMap(s => Option(s.twinKey)).distinct
      else Nil
    val byKey = Seq(
      cnKeys.nonEmpty -> lower(Directory.rdnValueCol(col("dn"))).isin(cnKeys: _*),
      uidKeys.nonEmpty -> element_at(col("attrs")("phonlineUniqueId"), 1)
        .isin(uidKeys: _*)).collect { case (true, c) => c }
    val underBase = Directory.parentDnCol(col("dn")) === conf.baseDn
    val pred = (byKey.reduceOption(_ || _).map(underBase && _) ++
      Option.when(twinKeys.nonEmpty)(lower(col("dn")).isin(twinKeys: _*)))
      .reduceOption(_ || _)
    val cands: Array[Cand] =
      pred.map(p => entries(snap1.toDF.filter(p))).getOrElse(Array.empty)

    // the two-key priority match (J2) and the typed kernel
    val oldL = cands.filter(c => parentOf(c.e.dn) == conf.baseDn)
    val byCn = oldL.groupBy(_.cnKey)
    val byUid = oldL.groupBy(c => uidOf(c.e))
    val outcomes: Seq[(Src, MergeRow)] = deduped.flatMap { s =>
      def in(old: Option[Entry], cnMatched: Boolean, ambiguous: Boolean) =
        MatchIn(s.cn, s.uid, s.pw, s.attrs, isNew = false, old.map(_.dn),
          old.map(_.attrs), cnMatched, ambiguous)
      val cnHits: Seq[Cand] =
        if (s.cnKey == null) Nil else byCn.getOrElse(s.cnKey, Array.empty[Cand]).toSeq
      val ins =
        if (cnHits.nonEmpty) cnHits.map(c => in(Some(c.e), true, false))
        else {
          // every row is is_new = false here, so forceCreate never
          // blocks the uid match
          val group =
            if (s.uid == null) Nil
            else byUid.getOrElse(Some(s.uid), Array.empty[Cand]).toSeq
          Seq(in(Option.when(group.size == 1)(group.head.e), false,
            group.size > 1))
        }
      ins.map(i => s -> SyncEngine.mergeOne(i, conf))
    }
    val merged = outcomes.map(_._2)

    // the held rows: every candidate (keyed by its snapshot dn) and every
    // add, as they stand after each step; steps only touch dns held here
    val orig: scala.collection.mutable.LinkedHashMap[String, Cand] =
      scala.collection.mutable.LinkedHashMap.from(cands.map(c => c.e.dn -> c))
    val changes: Map[String, MergeRow] = merged
      .filter(m => m.changed && m.consumedDn.isDefined)
      .groupBy(_.consumedDn.get).map { case (dn, ms) => dn -> ms.max(changeOrder) }
    var rows: Seq[(Option[String], Entry)] =
      cands.toSeq.map { c =>
        Some(c.e.dn) -> changes.get(c.e.dn)
          .map(m => Entry(m.resultDn.get, m.resultAttrs.get)).getOrElse(c.e)
      } ++ merged.filter(m => m.changed && m.consumedDn.isEmpty)
        .map(m => None -> Entry(m.resultDn.get, m.resultAttrs.get))

    // C4 — delete (soft unless ph15/no-etd) the entries of uids without
    // a row left, then the cross-tree ph15 sweep
    val victims = rows.map(_._2).filter(e =>
      parentOf(e.dn) == conf.baseDn && uidOf(e).exists(gone))
    val hard = conf.isPh15 || conf.noEtd.contains(conf.db)
    if (victims.nonEmpty) {
      val victimDns = victims.map(_.dn).toSet
      if (hard) rows = rows.filterNot(r => victimDns(r._2.dn))
      else {
        val marked = victims
          .map(v => v.dn -> SyncEngine.softDeleteAttrs(v.attrs, conf)).toMap
        rows = rows.map { case (o, e) =>
          o -> marked.get(e.dn).map(Entry(e.dn, _)).getOrElse(e) }
        if (conf.baseDn.contains("ou=ph")) {
          // a live entry named like a victim anywhere in the tree — the
          // ph15 twin — is hard-deleted when it is the only one, sits in
          // ph15 and carries no account status (etl.py:525–574)
          val vcns = victims.map(v => Directory.rdnValue(v.dn)).distinct
          entries(snap1.toDF.filter(Directory.rdnValueCol(col("dn"))
              .isin(vcns: _*)))
            .filterNot(c => orig.contains(c.e.dn))
            .foreach { c =>
              orig(c.e.dn) = c
              rows :+= Some(c.e.dn) -> c.e
            }
          val vcnSet = vcns.toSet
          val swept = rows.map(_._2)
            .filter(e => !e.attrs.contains("idnDeleted") && vcnSet(rdnOf(e.dn)))
            .groupBy(e => rdnOf(e.dn))
            .collect { case (cn, Seq(e)) if
                !EtlSchema.accStatus.exists(e.attrs.contains) &&
                e.dn == s"cn=$cn,${conf.dn15}" => e.dn }
            .toSet
          rows = rows.filterNot(r => swept(r._2.dn))
        }
      }
    }

    // C9 — write-through into the ph15 twins (matched case-insensitively
    // on their Spark-lowered dn). Replaced and added entries sit under
    // the base, never under the ph15 base the patches address, so only
    // held entries still at their snapshot dn can be twins.
    if (writeThrough) {
      val patches: Map[String, Seq[Map[String, Seq[String]]]] = outcomes
        .filter { case (_, m) =>
          m.changed && m.changedSrcKeys.exists(Cdc.writethroughKeys.contains) }
        .map { case (s, m) =>
          s.twinKey -> Cdc.writethroughPatch(s.attrs, s.pw, m.changedSrcKeys, conf) }
        .groupMap(_._1)(_._2)
      if (patches.nonEmpty) rows = rows.flatMap {
        case (Some(o), e) if e.dn == o && patches.contains(orig(o).dnKey) =>
          patches(orig(o).dnKey).map(p =>
            Some(o) -> Entry(e.dn, e.attrs.filter(kv => !p.contains(kv._1)) ++ p))
        case r => Seq(r)
      }
    }

    // 4 — the commit: replacements and removals by snapshot dn, then adds
    val byOrig = rows.collect { case (Some(o), e) => o -> e }.groupMap(_._1)(_._2)
    val repl: Seq[Row] = orig.toSeq.flatMap { case (dn, c) =>
      byOrig.get(dn) match {
        case None => Seq(Row(dn, null, null))
        case Some(Seq(e)) if e == c.e => Nil
        case Some(es) => es.map(e => Row(dn, e.dn, e.attrs))
      }
    }
    val adds = rows.collect { case (None, e) => e }
    val kept =
      if (repl.isEmpty) snap1
      else {
        val r = spark.createDataFrame(repl.asJava, StructType(Seq(
          StructField("k_dn", StringType), StructField("r_dn", StringType),
          StructField("r_attrs", MapType(StringType, ArrayType(StringType))))))
        snap1.toDF.join(broadcast(r), col("dn") === col("k_dn"), "left_outer")
          .filter(col("k_dn").isNull || col("r_dn").isNotNull)
          .select(coalesce(col("r_dn"), col("dn")).as("dn"),
            coalesce(col("r_attrs"), col("attrs")).as("attrs"))
          .as[Entry]
      }
    val snapshot =
      if (adds.isEmpty) kept
      else kept.union(spark.createDataset(adds))
        .coalesce(snapshot0.rdd.getNumPartitions)

    // C8 — per-uid aggregates of the kernel outcomes, then the shared
    // verdict rules over a local relation of per-event rows
    val aggs: Map[String, Row] = merged.filter(_.srcUid != null)
      .groupBy(_.srcUid).map { case (u, ms) =>
        val errs = ms.flatMap(_.error).sorted(utf8)
        u -> Row(ms.exists(_.consumedDn.isDefined),
          ms.flatMap(_.consumedDn).maxOption(utf8).orNull,
          ms.filter(m => m.consumedDn.isEmpty && m.changed)
            .flatMap(_.resultDn).maxOption(utf8).orNull,
          if (errs.isEmpty) null else errs.mkString("\n"),
          ms.flatMap(_.warning).maxOption(utf8).orNull,
          rowCounts.getOrElse(u, 0L))
      }
    val noAgg = Row(null, null, null, null, null, 0L)
    // first_rid: the uid's first non-null record_id in batch order (the
    // batch is collected in record_id order)
    val firstRid: Map[Option[Long], Any] = okEv.toSeq
      .filterNot(_.isNullAt(0))
      .groupBy(r => Option.when(!r.isNullAt(1))(r.getLong(1)))
      .map { case (u, rs) => u -> rs.head.get(0) }
    val evRows = okEv.toSeq.map { r =>
      val uid = Option.when(!r.isNullAt(1))(r.getLong(1))
      val a = uid.flatMap(u => aggs.get(u.toString)).getOrElse(noAgg)
      Row.fromSeq(Seq(r.get(0), r.get(1), r.get(2), r.get(3)) ++
        a.toSeq :+ firstRid.get(uid).orNull)
    }
    val bs = batchDf.schema
    val evDf = spark.createDataFrame(evRows.asJava, StructType(Seq(
      bs("record_id"), bs("uid"), bs("event_type"), bs("attempt"),
      StructField("pre_matched", BooleanType),
      StructField("pre_dn", StringType), StructField("add_dn", StringType),
      StructField("kernel_error", StringType),
      StructField("kernel_warning", StringType),
      StructField("row_n", LongType),
      bs("record_id").copy(name = "first_rid"))))
    val failedDf = spark.createDataFrame(
      badEv.toSeq.map(r => Row(r.get(0), r.get(4))).asJava,
      StructType(Seq(bs("record_id"), bs("v_error"))))
    // both are projections of local relations: collected without a job
    val evUpdates = Cdc.verdicts(evDf, conf, readTime)
    val verdictRows = evUpdates.collect() ++
      Cdc.failedVerdicts(failedDf).collect()
    val allUpdates = spark.createDataFrame(verdictRows.toSeq.asJava,
      StructType(evUpdates.schema.map(_.copy(nullable = true))))

    // 5 — broadcast write-back into the eventlog
    val updated =
      if (verdictRows.isEmpty) eventlog.select(EtlSchema.eventFields.map(col): _*)
      else Cdc.writeBack(eventlog, broadcast(allUpdates))

    // C3 — rename queue for the end-of-cycle ph15 pass
    val renames = spark.createDataFrame(
      merged.filter(_.renameOldCn.isDefined)
        .map(m => Row(m.renameOldCn.get, m.srcCn)).asJava,
      StructType(Seq(StructField("old_cn", StringType),
        StructField("new_cn", StringType))))

    // below the cap every pending event was selected: what stays
    // pending is exactly the batch's E verdicts
    val pendingAfter = Option.when(batch.length < maxRecords)(
      verdictRows.count(_.getString(1) == "E").toLong)
    Cdc.CycleResult(snapshot, updated, allUpdates, renames, pendingAfter)(
      batch.length.toLong)
  }
}
