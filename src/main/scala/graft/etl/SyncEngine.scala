package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ConvertF
import Directory.Entry

/** Pipeline configuration (reference etl.py main args + env). */
case class EtlConf(
    baseDn: String,
    db: String = "postgres",
    aesKey: String = "changemetoo*****",
    cryptoIvHex: Option[String] = None,
    etlTimestamp: String = "20170101000000Z",
    noEtd: Set[String] = Set.empty,
    ph15Dn: Option[String] = None,
    forceCreate: Boolean = false) {
  def isPh15: Boolean = baseDn.contains("ph15")
  /** ph0X base → ph15 base (reference etl.py:1222–1227). */
  def dn15: String = {
    val i = baseDn.indexOf("ou=ph")
    baseDn.substring(0, i) + "ou=ph15" + baseDn.substring(i + 7)
  }
}

/** The MERGE engine — SURVEY.md §2.8 (C1–C5, C11) re-expressed set-based.
  *
  * The reference syncs one row at a time with two network round-trips per
  * row (etl.py:923–1110). Here the *matching* is two shuffling joins
  * (cn-equi join, then uid-equi join for the misses — J2) and the
  * *diff/apply* is a row-local typed kernel (`mergeOne`) that reproduces
  * the reference's field-level diff semantics exactly (compare-under-old-
  * IV passwords, attribute deletes on NULL, resurrection, rename-on-cn-
  * change). Row-local ⇒ embarrassingly parallel ⇒ scales with executors;
  * the joins are the only shuffles.
  */
object SyncEngine {

  /** Kernel input: one source row + its matched directory entry. */
  case class MatchIn(
      srcCn: String, srcUid: String, pwPlain: Option[String],
      newAttrs: Map[String, Seq[String]], isNew: Boolean,
      oldDn: Option[String], oldAttrs: Option[Map[String, Seq[String]]],
      cnMatched: Boolean, uidAmbiguous: Boolean)

  /** Kernel output: the change this row wants applied. */
  case class MergeRow(
      srcCn: String, srcUid: String, isNew: Boolean,
      consumedDn: Option[String],
      resultDn: Option[String],
      resultAttrs: Option[Map[String, Seq[String]]],
      changed: Boolean,
      error: Option[String], warning: Option[String],
      skipped: Option[String],
      renameOldCn: Option[String],
      pwChanged: Boolean,
      changedSrcKeys: Seq[String])

  import org.apache.spark.sql.{Encoder, Encoders}
  implicit val matchInEnc: Encoder[MatchIn] = Encoders.product[MatchIn]
  implicit val mergeRowEnc: Encoder[MergeRow] = Encoders.product[MergeRow]

  // ------------------------------------------------------------------
  // Source-row conversion (codegen'd Column expressions, SURVEY §2.7)
  // ------------------------------------------------------------------

  import EtlSchema._

  private def convertedValue(k: String): Column = {
    val c = col(k)
    k match {
      case _ if dateCols.contains(k) =>
        when(c.isNotNull, array(ConvertF.fromDbDate(c)))
      case _ if numberCols.contains(k) =>
        when(c.isNotNull, array(ConvertF.fromDbNumber(c)))
      case _ if multiCols.contains(k) => ConvertF.fromMulti(c)
      case _ if rstripCols.contains(k) =>
        val v = ConvertF.fromDbRstrip(c)
        when(v.isNotNull, array(v))
      case _ if stripCols.contains(k) =>
        val v = ConvertF.fromDbStrip(c)
        when(v.isNotNull, array(v))
      case _ => when(c.isNotNull, array(c))
    }
  }

  /** users → (src_cn, src_uid, pw_plain, new_attrs) with all per-column
    * conversions applied; passwords stay plaintext here (the kernel
    * encrypts under the row-dependent IV).
    */
  def toNewRows(users: DataFrame): DataFrame = {
    val entries = array(
      userFields.filterNot(_ == "passwort").map { k =>
        struct(lit(odbcToLdap(k)).as("k"), convertedValue(k).as("v"))
      }: _*)
    users
      .withColumn("new_attrs",
        map_from_entries(filter(entries, e => e.getField("v").isNotNull)))
      .withColumn("src_cn", ConvertF.fromDbStrip(col("benutzername")))
      .withColumn("src_uid", ConvertF.fromDbNumber(col("pk_uniqueid")))
      .withColumn("pw_plain", col("passwort"))
      .select("src_cn", "src_uid", "pw_plain", "new_attrs")
  }

  // ------------------------------------------------------------------
  // The row-local merge kernel (reference sync_to_ldap, etl.py:923–1110)
  // ------------------------------------------------------------------

  def mergeOne(in: MatchIn, conf: EtlConf): MergeRow = {
    def none = MergeRow(in.srcCn, in.srcUid, in.isNew, None, None, None,
      changed = false, None, None, None, None, pwChanged = false, Nil)

    if (in.srcCn == null || in.srcCn.isEmpty)
      return none.copy(skipped =
        Some(s"Got User without benutzername, pk_uniqueid=${in.srcUid}"))
    if (in.srcUid == null || in.srcUid.isEmpty)
      return none.copy(skipped =
        Some(s"Got User without pk_uniqueid, benutzername=${in.srcCn}"))
    if (in.uidAmbiguous)
      return none.copy(error = Some(
        s"Non-matching cn: ${in.srcCn} and more than one record" +
          s" with same pk_uniqueid: ${in.srcUid}, giving up"))

    val oldUid = in.oldAttrs.flatMap(_.get("phonlineUniqueId")).map(_.head)
    if (in.cnMatched &&
        in.oldAttrs.exists(_.contains("idnDeleted")) &&
        oldUid != Some(in.srcUid))
      return none.copy(error = Some(
        s"Found deleted record with same CN ${in.srcCn} but different " +
          s"pk_uniqueid: ${in.srcUid}"))

    in.oldAttrs match {
      case Some(oldA) =>
        val oldDn = in.oldDn.get
        var warning: Option[String] = None
        if (in.isNew) {
          warning = Some(
            s"""Found dn "$oldDn" when sync says it should be new""")
        }
        if (oldUid != Some(in.srcUid)) {
          warning = Some(
            s"Found dn: $oldDn with different phonlineUniqueId: " +
              s"Got ${oldUid.orNull}, expected ${in.srcUid}")
        }
        // compare passwords under the entry's existing IV (etl.py:989–992)
        val oldPw = oldA.get("idnDistributionPassword").map(_.head)
        val oldIv = oldPw.filter(_.length > 32).map(_.take(32))

        var updates = Map.empty[String, Seq[String]]
        var deletes = Set.empty[String]
        var changedSrc = List.empty[String]
        if (oldA.contains("idnDeleted")) deletes += "idnDeleted" // resurrect

        userFields.foreach { k =>
          if (!(conf.isPh15 && notSyncedPh15.contains(k))) {
            val lk = odbcToLdap(k)
            val lv = oldA.get(lk)
            val v: Option[Seq[String]] =
              if (k == "passwort")
                in.pwPlain.map(p => Seq(
                  Aes.encryptHex(p, conf.aesKey, oldIv.orElse(conf.cryptoIvHex))))
              else in.newAttrs.get(lk)
            if (v != lv) {
              v match {
                case None => if (lv.isDefined) deletes += lk
                case Some(value) =>
                  val fresh =
                    if (k == "passwort")
                      Seq(Aes.encryptHex(in.pwPlain.get, conf.aesKey, conf.cryptoIvHex))
                    else value
                  updates += lk -> fresh
                  changedSrc ::= k
              }
            }
          }
        }
        if (updates.isEmpty && deletes.isEmpty)
          return none.copy(consumedDn = Some(oldDn), warning = warning)

        updates += "etlTimestamp" -> Seq(conf.etlTimestamp)
        var dn = oldDn
        var renameOldCn: Option[String] = None
        updates.get("cn").foreach { newCn =>
          renameOldCn = oldA.get("cn").map(_.head)
          dn = "cn=" + newCn.head + "," + Directory.parentDn(oldDn)
        }
        val pwChanged = updates.contains("idnDistributionPassword")
        if (pwChanged) updates += "userPassword" -> Seq("{CRYPT}")
        val merged = (oldA -- deletes) ++ updates
        MergeRow(in.srcCn, in.srcUid, in.isNew, Some(oldDn), Some(dn),
          Some(merged), changed = true, None, warning, None, renameOldCn,
          pwChanged, changedSrc.reverse)

      case None =>
        val warning =
          if (!in.isNew)
            Some(s"""pk_uniqueid "${in.srcUid}" not found, sync says it exists""")
          else None
        var attrs = in.newAttrs
        in.pwPlain.foreach { p =>
          attrs += "idnDistributionPassword" ->
            Seq(Aes.encryptHex(p, conf.aesKey, conf.cryptoIvHex))
          attrs += "userPassword" -> Seq("{CRYPT}")
        }
        attrs += "objectClass" ->
          Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat")
        attrs += "etlTimestamp" -> Seq(conf.etlTimestamp)
        val dn = s"cn=${in.srcCn},${conf.baseDn}"
        MergeRow(in.srcCn, in.srcUid, in.isNew, None, Some(dn), Some(attrs),
          changed = true, None, warning, None, None,
          pwChanged = in.pwPlain.isDefined, Nil)
    }
  }

  // ------------------------------------------------------------------
  // The same kernel as column expressions (whole-stage codegen)
  // ------------------------------------------------------------------

  /** `mergeOne` re-expressed as a single column projection over the
    * matched frame — no Encoder round-trip, no per-row JVM closure: the
    * diff loop unrolls into one fixed expression per source field, AES
    * goes through Spark's built-in `aes_encrypt` (ConvertF.fromPassword),
    * and the whole kernel stays inside whole-stage codegen. This is the
    * engine's hot path on every load and every CDC cycle; the typed
    * kernel above is retained as its executable specification
    * (MergeKernelEquivalenceSpec proves them pointwise equal).
    *
    * Input: the camelCase matched columns (srcCn, srcUid, pwPlain,
    * newAttrs, isNew, oldDn, oldAttrs, cnMatched, uidAmbiguous).
    * Output: the exact MergeRow schema.
    */
  def mergeRowsPlan(matched: DataFrame, conf: EtlConf): DataFrame = {
    import graft.functions.ConvertF
    val srcCn = col("srcCn"); val srcUid = col("srcUid")
    val pw = col("pwPlain"); val newA = col("newAttrs")
    val isNewC = col("isNew"); val oldDn = col("oldDn")
    val oldA = col("oldAttrs")
    val key = lit(conf.aesKey)

    val oldUid = element_at(oldA("phonlineUniqueId"), 1)
    val oldPw = element_at(oldA("idnDistributionPassword"), 1)
    val oldIv = when(length(oldPw) > 32, substring(oldPw, 1, 32))

    // compare-under-old-IV value vs fresh (configured-IV) value — the
    // reference's etl.py:989–992 asymmetry: equality is tested under the
    // entry's stored IV, but a differing password is re-encrypted under
    // the configured IV (random when none is configured)
    val cmpEnc = conf.cryptoIvHex match {
      case Some(h) => ConvertF.fromPassword(pw, key, coalesce(oldIv, lit(h)))
      case None => when(oldIv.isNotNull, ConvertF.fromPassword(pw, key, oldIv))
        .otherwise(ConvertF.fromPassword(pw, key))
    }
    val freshEnc = conf.cryptoIvHex match {
      case Some(h) => ConvertF.fromPassword(pw, key, lit(h))
      case None => ConvertF.fromPassword(pw, key)
    }

    // The kernel is STAGED through explicit intermediate columns. This
    // is load-bearing, not style: every lambda body below re-evaluates
    // its captured expressions per collection ELEMENT (map_filter over
    // ~30 attrs would re-run the AES-bearing updates map 30x per row),
    // and multi-referenced expressions re-evaluate per CONSUMER because
    // higher-order functions defeat codegen subexpression elimination.
    // Staging computes each expensive value once per row; Catalyst's
    // CollapseProject keeps the stages separate exactly because the
    // producers are non-cheap and multi-referenced.
    val fieldStructs = userFields
      .filterNot(k => conf.isPh15 && notSyncedPh15.contains(k))
      .map { k =>
        val lk = odbcToLdap(k)
        val lv = oldA(lk)
        val v: Column =
          if (k == "passwort") col("_cmp_pw") else newA(lk)
        val fresh: Column =
          if (k == "passwort") col("_fresh_pw") else v
        struct(lit(lk).as("k"), fresh.as("v"), lit(k).as("src"),
          (!(v <=> lv) && v.isNotNull).as("u"),
          (!(v <=> lv) && v.isNull && lv.isNotNull).as("d"))
      }
    val resurrect = map_contains_key(oldA, "idnDeleted") // etl.py resurrection
    val staged = matched
      .withColumn("_cmp_pw", when(pw.isNotNull, array(cmpEnc)))
      .withColumn("_fresh_pw", when(pw.isNotNull, array(freshEnc)))
      .withColumn("_entries", array(fieldStructs: _*))
      .withColumn("_upd", filter(col("_entries"), e => e.getField("u")))
      .withColumn("_del0", transform(
        filter(col("_entries"), e => e.getField("d")), e => e.getField("k")))
      .withColumn("_del", when(resurrect,
        concat(col("_del0"), array(lit("idnDeleted")))).otherwise(col("_del0")))
      .withColumn("_updates0", map_from_entries(transform(col("_upd"),
        e => struct(e.getField("k"), e.getField("v")))))
      .withColumn("_pw_ch",
        map_contains_key(col("_updates0"), "idnDistributionPassword"))
      .withColumn("_updates1", map_concat(col("_updates0"),
        map(lit("etlTimestamp"), array(lit(conf.etlTimestamp)))))
      .withColumn("_updates", when(col("_pw_ch"), map_concat(col("_updates1"),
        map(lit("userPassword"), array(lit("{CRYPT}")))))
        .otherwise(col("_updates1")))
      .withColumn("_merged", map_concat(
        map_filter(oldA, (k, _) =>
          !map_contains_key(col("_updates"), k) &&
            !array_contains(col("_del"), k)),
        col("_updates")))
      .withColumn("_new_cn", element_at(col("_updates0")("cn"), 1))
    val updEntries = col("_upd")
    val delKeys = col("_del")
    val changedSrcKeys = transform(updEntries, e => e.getField("src"))
    val anyChange = size(updEntries) > 0 || size(delKeys) > 0
    val pwCh = col("_pw_ch")
    val merged = col("_merged")
    val newCn = col("_new_cn")
    val mDn = when(newCn.isNotNull,
      concat(lit("cn="), newCn, lit(","), Directory.parentDnCol(oldDn)))
      .otherwise(oldDn)
    val renameOldCn = when(newCn.isNotNull, element_at(oldA("cn"), 1))

    // add path
    val addW = when(!isNewC, concat(lit("pk_uniqueid \""), srcUid,
      lit("\" not found, sync says it exists")))
    // typed `Map ++` overwrites on key collision; map_concat throws — so
    // pre-filter colliding keys (none occur via toNewRows, but the
    // kernel must be total like its typed twin)
    val addAttrs0 = when(pw.isNotNull, map_concat(
        map_filter(newA, (k, _) =>
          k =!= "idnDistributionPassword" && k =!= "userPassword"),
        map_from_arrays(
          array(lit("idnDistributionPassword"), lit("userPassword")),
          array(col("_fresh_pw"), array(lit("{CRYPT}"))))))
      .otherwise(newA)
    val addAttrs = map_concat(
      map_filter(addAttrs0, (k, _) =>
        k =!= "objectClass" && k =!= "etlTimestamp"),
      map(lit("objectClass"), array(lit("inetOrgPerson"),
          lit("phonlinePerson"), lit("idnSyncstat")),
        lit("etlTimestamp"), array(lit(conf.etlTimestamp))))
    val addDn = concat(lit("cn="), srcCn, lit("," + conf.baseDn))

    // matched-path warnings: uid-mismatch overwrites should-be-new
    val matchedW =
      when(!(oldUid <=> srcUid), concat(lit("Found dn: "), oldDn,
        lit(" with different phonlineUniqueId: Got "),
        coalesce(oldUid, lit("null")), lit(", expected "), srcUid))
      .when(isNewC, concat(lit("Found dn \""), oldDn,
        lit("\" when sync says it should be new")))

    // guard cascade — same short-circuit order as the typed kernel
    val skipCnC = srcCn.isNull || srcCn === ""
    val skipUidC = !skipCnC && (srcUid.isNull || srcUid === "")
    val errAmbC = !skipCnC && !skipUidC && col("uidAmbiguous")
    val errDelC = !skipCnC && !skipUidC && !errAmbC && col("cnMatched") &&
      map_contains_key(oldA, "idnDeleted") && !(oldUid <=> srcUid)
    val bad = skipCnC || skipUidC || errAmbC || errDelC
    val matchedP = !bad && oldA.isNotNull
    val changedP = matchedP && anyChange
    val addP = !bad && oldA.isNull

    staged.select(
      srcCn.as("srcCn"),
      srcUid.as("srcUid"),
      isNewC.as("isNew"),
      when(matchedP, oldDn).as("consumedDn"),
      when(changedP, mDn).when(addP, addDn).as("resultDn"),
      when(changedP, merged).when(addP, addAttrs).as("resultAttrs"),
      (changedP || addP).as("changed"),
      when(errAmbC, concat(lit("Non-matching cn: "), srcCn,
          lit(" and more than one record with same pk_uniqueid: "), srcUid,
          lit(", giving up")))
        .when(errDelC, concat(lit("Found deleted record with same CN "),
          srcCn, lit(" but different pk_uniqueid: "), srcUid))
        .as("error"),
      when(matchedP, matchedW).when(addP, addW).as("warning"),
      when(skipCnC, concat(lit("Got User without benutzername, pk_uniqueid="),
          coalesce(srcUid, lit("null"))))
        .when(skipUidC, concat(lit("Got User without pk_uniqueid, benutzername="),
          srcCn))
        .as("skipped"),
      when(changedP, renameOldCn).as("renameOldCn"),
      coalesce(when(changedP, pwCh).when(addP, pw.isNotNull), lit(false))
        .as("pwChanged"),
      coalesce(when(changedP, changedSrcKeys), typedLit(Seq.empty[String]))
        .as("changedSrcKeys"))
  }

  // ------------------------------------------------------------------
  // Set-based matching + apply
  // ------------------------------------------------------------------

  /** Within-batch cn-dedup ordering (winner = first row): highest uid,
    * then — for corrupt batches carrying exact (cn, uid) duplicates
    * with different attrs — a content hash, so the winner never depends
    * on shuffle layout. to_json is deterministic here because
    * `toNewRows` builds every map in one fixed field order.
    */
  val cnDedupOrder: Seq[Column] = Seq(
    col("src_uid").cast("long").desc_nulls_last,
    xxhash64(to_json(col("new_attrs"))).desc,
    col("pw_plain").desc_nulls_last)

  /** Two-key priority match (J2) + merge. `newRows` needs the columns of
    * `toNewRows` plus a boolean `is_new`.
    */
  def merge(snapshot: Dataset[Entry], newRows0: DataFrame, conf: EtlConf)
      : (Dataset[Entry], Dataset[MergeRow]) = {
    val spark = snapshot.sparkSession
    import spark.implicits._

    // One row per cn within a batch: the reference processes rows
    // sequentially, so a second row with the same cn lands as an update
    // of the first; set-based, two same-cn adds would collide on dn.
    // cn compares case-insensitively (LDAP caseIgnoreMatch, like the
    // reference's server-side get_by_cn), so the dedup partitions on
    // lower(cn) — two entries differing only in cn case cannot coexist
    // under one parent. Deterministic winner: highest uid (the
    // sequential outcome is fetch-order-dependent — this is the one
    // divergence, documented), with a content tiebreak for exact
    // (cn, uid) duplicates.
    val cnW = org.apache.spark.sql.expressions.Window
      .partitionBy(lower(col("src_cn")))
      .orderBy(cnDedupOrder: _*)
    val newRows = newRows0
      .withColumn("cn_rn", row_number().over(cnW))
      .filter(col("cn_rn") === 1 || col("src_cn").isNull)
      .drop("cn_rn")

    val oldL = snapshot.toDF
      .filter(Directory.parentDnCol(col("dn")) === conf.baseDn)
      .select(col("dn").as("old_dn"), col("attrs").as("old_attrs"),
        Directory.rdnValueCol(col("dn")).as("old_cn"),
        element_at(col("attrs")("phonlineUniqueId"), 1).as("old_uid"))

    // match 1: by cn (the RDN — unique under one parent). LDAP cn
    // matching is case-insensitive (caseIgnoreMatch): a case-only
    // benutzername change must take the cn-match → rename path, not the
    // uid fallback.
    val m1 = newRows.join(oldL,
      lower(col("src_cn")) === lower(col("old_cn")), "left_outer")

    // match 2: the cn-misses against uid, ambiguity-aware (etl.py:958–970)
    val cnHit = m1.filter(col("old_dn").isNotNull)
      .withColumn("cn_matched", lit(true))
      .withColumn("uid_ambiguous", lit(false))
    val uidGroups = oldL.groupBy("old_uid")
      .agg(count(lit(1)).as("uid_n"),
        min_by(struct(col("old_dn"), col("old_attrs")), col("old_dn")).as("e"))
    val cnMiss = m1.filter(col("old_dn").isNull)
      .drop("old_dn", "old_attrs", "old_cn", "old_uid")
    val allowUidMatch = !col("is_new") || lit(!conf.forceCreate)
    val m2 = cnMiss
      .join(uidGroups, col("src_uid") === col("old_uid") && allowUidMatch,
        "left_outer")
      .withColumn("old_dn",
        when(col("uid_n") === 1, col("e")("old_dn")))
      .withColumn("old_attrs",
        when(col("uid_n") === 1, col("e")("old_attrs")))
      .withColumn("cn_matched", lit(false))
      .withColumn("uid_ambiguous",
        coalesce(col("uid_n") > 1, lit(false)))
      .drop("old_uid", "uid_n", "e", "old_cn")

    val cols = Seq("src_cn", "src_uid", "pw_plain", "new_attrs", "is_new",
      "old_dn", "old_attrs", "cn_matched", "uid_ambiguous")
    val matched = cnHit.selectExpr(cols: _*)
      .unionByName(m2.selectExpr(cols: _*))
      .select(
        col("src_cn").as("srcCn"), col("src_uid").as("srcUid"),
        col("pw_plain").as("pwPlain"), col("new_attrs").as("newAttrs"),
        col("is_new").as("isNew"), col("old_dn").as("oldDn"),
        col("old_attrs").as("oldAttrs"), col("cn_matched").as("cnMatched"),
        col("uid_ambiguous").as("uidAmbiguous"))

    // materialize once: the rows feed the snapshot apply, the status
    // matrix, the rename queue and the write-through — without this the
    // two match joins + kernel re-execute per consumer (~5×). Lazy:
    // the first consuming job computes it in-line (no dedicated
    // up-front job per merge — the CDC cycle constant), later jobs
    // reuse the stored partitions.
    val mergeRows = mergeRowsPlan(matched, conf).as[MergeRow]
      .localCheckpoint(false)
    (applyMerge(snapshot, mergeRows), mergeRows)
  }

  /** Typed-kernel twin of the merge matching — used by the equivalence
    * spec to prove `mergeRowsPlan` pointwise equal to `mergeOne`.
    */
  def mergeRowsTyped(matched: DataFrame, conf: EtlConf): Dataset[MergeRow] = {
    import matched.sparkSession.implicits._
    matched.as[MatchIn].map(mergeOne(_, conf))
  }

  /** Apply MergeRows to the snapshot: replace consumed entries (updates /
    * renames), append adds. Pure set operations — a copy-on-write MERGE.
    */
  def applyMerge(snapshot: Dataset[Entry], mergeRows: Dataset[MergeRow])
      : Dataset[Entry] = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    // one change per consumed entry: two source rows with the same uid
    // but different cns can both uid-match one entry — the reference
    // applies them sequentially (last wins); set-based, an un-deduped
    // join here would fan the entry out into duplicates. Deterministic
    // winner: highest uid, then cn (mirrors the cn-dedup policy).
    val changes = mergeRows.toDF
      .filter(col("changed") && col("consumedDn").isNotNull)
      .select(col("consumedDn").as("dn0"), col("resultDn").as("rdn"),
        col("resultAttrs").as("rattrs"), col("srcUid").cast("long").as("ruid"),
        col("srcCn").as("rcn"))
      .groupBy("dn0")
      .agg(max_by(struct(col("rdn"), col("rattrs")),
        struct(col("ruid"), col("rcn"))).as("e"))
      .select(col("dn0"), col("e.rdn").as("result_dn"),
        col("e.rattrs").as("result_attrs"))
    val adds = mergeRows.toDF
      .filter(col("changed") && col("consumedDn").isNull)
      .select(col("resultDn").as("dn"), col("resultAttrs").as("attrs"))
      .as[Entry]
    // no broadcast hint: the changes side is as big as the batch (the
    // whole table on initial load). Nor does AQE turn it into a
    // broadcast on a small CDC batch: traced on a 37,678-entry snapshot,
    // both sides of this join are shuffled, ~23 MB per join per cycle.
    // Capped CDC cycles therefore commit through LocalCycle's broadcast
    // join instead; this set-based apply serves InitialLoad and uncapped
    // cycles.
    snapshot.toDF
      .join(changes, col("dn") === col("dn0"), "left_outer")
      .select(
        coalesce(col("result_dn"), col("dn")).as("dn"),
        coalesce(col("result_attrs"), col("attrs")).as("attrs"))
      .as[Entry]
      .union(adds)
  }

  // ------------------------------------------------------------------
  // C4 — delete (soft unless ph15/no-etd), reference etl.py:466–523
  // ------------------------------------------------------------------

  def softDeleteAttrs(attrs: Map[String, Seq[String]], conf: EtlConf)
      : Map[String, Seq[String]] = {
    var changes = Map.empty[String, Seq[String]]
    if (!attrs.contains("idnDeleted")) changes += "idnDeleted" -> Seq("TRUE")
    accStatus.foreach { a =>
      if (attrs.get(a).exists(_.head == "OK")) changes += a -> Seq("GESPERRT")
    }
    accActive.foreach { a =>
      if (attrs.get(a).exists(_.head != "N")) changes += a -> Seq("N")
    }
    if (changes.nonEmpty) changes += "etlTimestamp" -> Seq(conf.etlTimestamp)
    attrs ++ changes
  }

  /** Delete all entries under the base whose uid is in `uids`: hard
    * delete for ph15 / no-etd instances, soft delete-mark otherwise;
    * then the cross-tree ph15 account check (etl.py:525–574).
    */
  def deleteInLdap(snapshot: Dataset[Entry], uids: Dataset[String],
      conf: EtlConf): Dataset[Entry] = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val uidDf = broadcast(uids.toDF("del_uid"))
    val underBase = Directory.parentDnCol(col("dn")) === conf.baseDn
    val victimCond = underBase &&
      element_at(col("attrs")("phonlineUniqueId"), 1).isNotNull

    val victims = snapshot.toDF.filter(victimCond)
      .join(uidDf,
        element_at(col("attrs")("phonlineUniqueId"), 1) === col("del_uid"),
        "left_semi")
      .as[Entry]

    val hard = conf.isPh15 || conf.noEtd.contains(conf.db)
    val afterBase: Dataset[Entry] =
      if (hard) {
        snapshot.toDF
          .join(victims.toDF.select(col("dn").as("vdn")),
            col("dn") === col("vdn"), "left_anti")
          .as[Entry]
      } else {
        val marked = victims.map(e => Entry(e.dn, softDeleteAttrs(e.attrs, conf)))
        val markedDf = marked.toDF
          .select(col("dn").as("vdn"), col("attrs").as("vattrs"))
        snapshot.toDF
          .join(markedDf, col("dn") === col("vdn"), "left_outer")
          .select(col("dn"), coalesce(col("vattrs"), col("attrs")).as("attrs"))
          .as[Entry]
      }

    // the cross-tree sweep only exists in ph-deployments; a base dn
    // without an ou=phXX component has no ph15 sibling (and dn15 would
    // be undefined — the reference derives it lazily for the same reason)
    if (hard || !conf.baseDn.contains("ou=ph")) afterBase
    else deleteInPh15(afterBase, victims.map(e => Directory.rdnValue(e.dn)), conf)
  }

  /** Cross-tree sweep: a soft-deleted user whose cn exists exactly once
    * elsewhere (non-deleted), in ph15, with no account-status attrs, is
    * hard-deleted there (etl.py:525–574).
    */
  def deleteInPh15(snapshot: Dataset[Entry], victimCns: Dataset[String],
      conf: EtlConf): Dataset[Entry] = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val cns = broadcast(victimCns.toDF("vcn"))
    val live = snapshot.toDF
      .filter(!map_contains_key(col("attrs"), "idnDeleted"))
      .select(col("dn"), Directory.rdnValueCol(col("dn")).as("cn"),
        accStatus.map(a => map_contains_key(col("attrs"), a))
          .reduce(_ || _).as("has_acc"))
      .join(cns, col("cn") === col("vcn"), "left_semi")
    // the reference's nm==2 branch is server-order-dependent (it takes
    // matches[0] and usually hits the non-ph15 entry → error-log, no
    // delete); requiring exactly one live match is the deterministic
    // reading of the same intent
    val candidates = live.groupBy("cn")
      .agg(count(lit(1)).as("n"), min(col("dn")).as("only_dn"),
        max(col("has_acc").cast("int")).as("acc"))
      .filter(col("n") === 1 && col("acc") === 0)
      .filter(col("only_dn") === concat(lit("cn="), col("cn"),
        lit("," + conf.dn15)))
      .select(col("only_dn").as("vdn"))
    snapshot.toDF
      .join(broadcast(candidates), col("dn") === col("vdn"), "left_anti")
      .as[Entry]
  }

  // ------------------------------------------------------------------
  // C6 / C7 — garbage collection + ETD acknowledgement
  // ------------------------------------------------------------------

  /** idnSyncDiff=0 is the directory-computed "already synced" marker —
    * etdTimestamp equals etlTimestamp. GC removes synced deleted entries
    * under the base (etl.py:735–760).
    */
  def garbageCollect(snapshot: Dataset[Entry], conf: EtlConf): Dataset[Entry] = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val synced = map_contains_key(col("attrs"), "idnDeleted") &&
      map_contains_key(col("attrs"), "etdTimestamp") &&
      (element_at(col("attrs")("etdTimestamp"), 1) <=>
        element_at(col("attrs")("etlTimestamp"), 1))
    val underBase = col("dn").endsWith("," + conf.baseDn)
    snapshot.toDF.filter(!(underBase && synced)).as[Entry]
  }

  /** set_etd_done.py:22–63 — stamp etdTimestamp := etlTimestamp for
    * deleted-marked entries (or one uid), skipping ph15 trees.
    */
  def setEtdDone(snapshot: Dataset[Entry], uniqueId: Option[String])
      : Dataset[Entry] = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val selected = uniqueId match {
      case Some(u) => element_at(col("attrs")("phonlineUniqueId"), 1) === u
      case None => map_contains_key(col("attrs"), "idnDeleted")
    }
    val applies = selected && !col("dn").contains("ph15") &&
      map_contains_key(col("attrs"), "etlTimestamp")
    snapshot.toDF
      .withColumn("attrs",
        when(applies,
          map_concat(
            map_filter(col("attrs"), (k, _) => k =!= "etdTimestamp"),
            map(lit("etdTimestamp"), col("attrs")("etlTimestamp"))))
          .otherwise(col("attrs")))
      .as[Entry]
  }

  // ------------------------------------------------------------------
  // J8 — ph15 student-email back-sync (ph15_email.py:93–151)
  // ------------------------------------------------------------------

  def ph15EmailSync(snapshot: Dataset[Entry], baseDns: Seq[String])
      : Dataset[Entry] = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val srcBases = baseDns.filterNot(_.contains("ph15"))
    if (srcBases.isEmpty) return snapshot
    val underSrc = srcBases
      .map(b => col("dn").endsWith("," + b)).reduce(_ || _)
    val mailCol = element_at(col("attrs")("phonlineEmailStudent"), 1)
    val aktivCol = element_at(col("attrs")("phonlineStudentAktiv"), 1)
    val src = snapshot.toDF
      .filter(underSrc && mailCol.isNotNull && rtrim(aktivCol) === "J")
      .select(
        regexp_replace(col("dn"), "ou=ph[0-9]+", "ou=ph15").as("dn15"),
        mailCol.as("mail"))
      // the same cn under several source trees maps to one ph15 dn: an
      // un-deduped join would duplicate the ph15 entry (the reference
      // iterates bases sequentially, last write wins); deterministic
      // winner: max mail
      .groupBy("dn15").agg(max(col("mail")).as("mail"))
    snapshot.toDF
      .join(broadcast(src), col("dn") === col("dn15"), "left_outer")
      .withColumn("attrs",
        when(col("mail").isNotNull &&
            !(element_at(col("attrs")("phonlineEmailStudent"), 1) <=> col("mail")),
          map_concat(
            map_filter(col("attrs"), (k, _) => k =!= "phonlineEmailStudent"),
            map(lit("phonlineEmailStudent"), array(col("mail")))))
          .otherwise(col("attrs")))
      .select("dn", "attrs")
      .as[Entry]
  }
}
