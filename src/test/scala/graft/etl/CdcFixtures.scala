package graft.etl

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import Directory.Entry

/** Seeded, self-contained CDC fixtures: the 32-column user table
  * (`EtlSchema.userSchema`) and the 17-column eventlog
  * (`EtlSchema.eventSchema`), with the event classes of the benchmark's
  * generator (perfbench/gen.py) plus a kernel-error class. Every event
  * applies its user-row change when it is generated, like the source
  * database's side of an event.
  *
  * Event classes and the verdict the engine must give them:
  *   update       attribute change of a one-row user        -> S (W*)
  *   password     passwort change (the Aes path)            -> S (W*)
  *   rename       benutzername change (sometimes case only) -> S (W*)
  *   insert       a new user row, event_type 5              -> S (W*)
  *   delete       the user's row removed, event_type 4      -> S
  *   dup_uid      change of one row of a two-row uid        -> W
  *   bad_type     event_type 7                              -> F
  *   bad_key      table_key not pk_uniqueid=<number>        -> F
  *   kernel_error a new row named like a deleted entry of another uid,
  *                attempt 10: E, then F on the next cycle (attempt > 10)
  * (*) W when a later event of the same batch deleted the user's row.
  *
  * The initial tree also holds what the cycle's side paths need: ph15
  * twins of some users (the delete sweep and the write-through), deleted
  * entries without a user row (the kernel error's namesakes) and deleted
  * entries already acknowledged by ETD (garbage-collected by the first
  * cycle).
  */
object CdcFixtures {
  val base = "ou=user,ou=ph08,o=BMUKK"
  val base15 = "ou=user,ou=ph15,o=BMUKK"
  val classes = Seq("update", "password", "rename", "insert", "delete",
    "dup_uid", "bad_type", "bad_key", "kernel_error")
  private val weights = Seq(40, 10, 10, 10, 10, 6, 4, 4, 6)
  private val idx = EtlSchema.userFields.zipWithIndex.toMap
  private val first = Seq("Anna", "Bernd", "Clara", "Jörg", "Zoë", "Olga")
  private val last = Seq("Müller", "Gruber", "Huber", "Groß", "Eder")
  private val etlStamp = "20170101000000Z"

  /** The three engine configurations the fixtures rotate through: soft
    * delete with the ph15 sweep, soft delete with write-through into
    * ph15, hard delete (no-etd).
    */
  def conf(seed: Long): EtlConf = {
    val c = EtlConf(baseDn = base, cryptoIvHex = Some("ab" * 16),
      etlTimestamp = etlStamp)
    (seed % 3).toInt match {
      case 0 => c
      case 1 => c.copy(ph15Dn = Some(base15))
      case _ => c.copy(noEtd = Set(c.db))
    }
  }

  def emptyEventlog(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      EtlSchema.eventSchema)

  /** One seeded source database and its event stream. */
  final class World(seed: Long, nUsers: Int) {
    private val rnd = new scala.util.Random(seed)
    private val rows = mutable.LinkedHashMap.empty[Long, Array[Any]]
    private val byUid = mutable.LinkedHashMap.empty[Long, List[Long]]
    private val single = mutable.ArrayBuffer.empty[Long]
    private val multi = mutable.ArrayBuffer.empty[Long]
    private val zombies = mutable.ArrayBuffer.empty[String]
    private var nextIdent = 1L
    private var nextUid = 100000L
    private var nextRid = 1000000L
    private var cnSeq = 0
    /** record_id → event class, for every event generated so far. */
    val classOf = mutable.LinkedHashMap.empty[Long, String]

    private def newCn(uid: Long): String = { cnSeq += 1; s"u${uid}x$cnSeq" }

    private def freshRow(uid: Long, ident: Long, cn: String): Array[Any] = {
      val r = new Array[Any](EtlSchema.userFields.size)
      def set(k: String, v: Any): Unit = r(idx(k)) = v
      val emp = rnd.nextBoolean()
      set("person_nr_obf", if (rnd.nextBoolean()) f"${rnd.nextLong()}%016x" else null)
      set("st_person_nr_obf", f"${rnd.nextLong()}%016x")
      set("org_einheiten", s"OE${1 + rnd.nextInt(400)}")
      set("emailadresse_b", if (emp) s"p$uid@schule.example " else null)
      set("emailadresse_st", s"s$uid@student.example")
      set("bpk", f"${rnd.nextLong()}%016x")
      set("pm_sap_personalnummer", if (emp) (10000000 + uid).toString else null)
      set("schulkennzahlen", (100000 + rnd.nextInt(900000)).toString +
        (if (rnd.nextBoolean()) ";" + (100000 + rnd.nextInt(900000)) else ""))
      set("funktionen", Seq("Lehrer", "Admin", "Schueler")(rnd.nextInt(3)))
      set("pk_uniqueid", uid.toDouble)
      set("vorname", first(rnd.nextInt(first.size)))
      set("nachname", last(rnd.nextInt(last.size)))
      set("benutzername", cn)
      set("passwort", if (rnd.nextInt(5) == 0) null else f"${rnd.nextInt()}%08x")
      set("benutzergruppen", Seq("ST", "B", "A;ST")(rnd.nextInt(3)))
      set("aktiv_st_person", if (rnd.nextBoolean()) "J  " else "N  ")
      set("aktiv_a_person", if (rnd.nextBoolean()) "J  " else "N  ")
      set("aktiv_b_person", Seq("J  ", "N  ", null)(rnd.nextInt(3)))
      set("matrikelnummer", (10000000 + rnd.nextInt(90000000)).toString)
      set("account_status_b", if (emp) "OK" else null)
      set("account_status_st", Seq("OK", "OK", "GESPERRT")(rnd.nextInt(3)))
      set("geburtsdatum", new java.sql.Timestamp(
        (100L * 365 * 86400 + rnd.nextInt(40 * 365) * 86400L) * 1000))
      set("person_nr", (1000000 + rnd.nextInt(9000000)).toDouble)
      set("st_person_nr", uid.toDouble)
      set("ident_nr", ident.toDouble)
      r
    }

    private def addRow(uid: Long, cn: String): Long = {
      val ident = nextIdent
      nextIdent += 1
      rows(ident) = freshRow(uid, ident, cn)
      byUid(uid) = byUid.getOrElse(uid, Nil) :+ ident
      ident
    }

    private def newUid(): Long = { nextUid += 1; nextUid }

    while (rows.size < nUsers) {
      val uid = newUid()
      addRow(uid, newCn(uid))
      if (rnd.nextInt(100) < 3) { addRow(uid, newCn(uid)); multi += uid }
      else single += uid
    }

    /** The current user table. */
    def users(spark: SparkSession): DataFrame =
      spark.createDataFrame(rows.values.map(Row.fromSeq(_)).toSeq.asJava,
        EtlSchema.userSchema)

    /** The initial tree: an initial load of the users into a tree that
      * also holds ph15 twins of every tenth user, deleted entries without
      * a user row, and deleted entries ETD has acknowledged.
      */
    def initialSnapshot(spark: SparkSession, conf: EtlConf): Dataset[Entry] = {
      import spark.implicits._
      val oc = "objectClass" -> Seq("inetOrgPerson", "phonlinePerson", "idnSyncstat")
      val twins = single.zipWithIndex.collect { case (uid, i) if i % 10 == 0 =>
        val cn = rows(byUid(uid).head)(idx("benutzername")).toString
        Entry(s"cn=$cn,$base15", Map("cn" -> Seq(cn), "sn" -> Seq("Twin"),
          "phonlineUniqueId" -> Seq(uid.toString), oc))
      }
      val deleted = (1 to 8).map { i =>
        val uid = newUid()
        val cn = newCn(uid)
        if (i <= 4) zombies += cn
        val acked = if (i > 4) Map("etdTimestamp" -> Seq(etlStamp)) else Map.empty
        Entry(s"cn=$cn,$base", Map("cn" -> Seq(cn), "sn" -> Seq("Gone"),
          "phonlineUniqueId" -> Seq(uid.toString), "idnDeleted" -> Seq("TRUE"),
          "etlTimestamp" -> Seq(etlStamp), oc) ++ acked)
      }
      val pre = spark.createDataset(
        Directory.bootstrapEntries(Seq(base15)) ++ twins ++ deleted)
      InitialLoad.run(pre, users(spark), conf).snapshot
    }

    private def pick[T](xs: mutable.ArrayBuffer[T]): T = xs(rnd.nextInt(xs.size))

    private def event(uid: String, etype: Double, cls: String,
        key: Option[String] = None, attempt: Option[Double] = None): Row = {
      nextRid += 1
      classOf(nextRid) = cls
      Row(nextRid.toDouble, key.getOrElse(s"pk_uniqueid=$uid"), "N  ", etype,
        new java.sql.Timestamp(1704067200000L + nextRid % 100000 * 1000),
        "WEB_CONNECT", "benutzer_alle_dirxml_v", null, null, null,
        (nextRid % 97).toDouble, "N  ", "N  ", null, null,
        attempt.map(Double.box).orNull, "N  ")
    }

    private def drawClass(): String = {
      var x = rnd.nextInt(weights.sum)
      classes.zip(weights).find { case (_, w) => x -= w; x < 0 }.get._1
    }

    /** `n` new events in seeded class order, each applying its user-row
      * change now.
      */
    def events(spark: SparkSession, n: Int): DataFrame =
      spark.createDataFrame(eventRows(n).asJava, EtlSchema.eventSchema)

    def eventRows(n: Int): Seq[Row] = (1 to n).map { _ =>
      drawClass() match {
        case "update" | "password" | "rename" | "delete" if single.isEmpty =>
          event("1", 7.0, "bad_type")
        case cls @ ("update" | "password" | "rename") =>
          val uid = pick(single)
          val r = rows(byUid(uid).head)
          cls match {
            case "update" =>
              val k = Seq("vorname", "nachname", "org_einheiten",
                "account_status_st", "funktionen", "matrikelnummer",
                "emailadresse_b")(rnd.nextInt(7))
              r(idx(k)) = freshRow(uid, 0, "")(idx(k))
              r(idx("org_einheiten")) = s"OE$nextRid"
            case "password" => r(idx("passwort")) = f"${rnd.nextInt()}%08x"
            case _ =>
              val cn = r(idx("benutzername")).toString
              r(idx("benutzername")) =
                if (rnd.nextInt(4) == 0) cn.capitalize else newCn(uid)
          }
          event(uid.toString, 6.0, cls)
        case "delete" =>
          val uid = pick(single)
          single -= uid
          byUid.remove(uid).foreach(_.foreach(rows.remove))
          event(uid.toString, 4.0, "delete")
        case "insert" =>
          val uid = newUid()
          addRow(uid, newCn(uid))
          single += uid
          event(uid.toString, 5.0, "insert")
        case "dup_uid" if multi.nonEmpty =>
          val uid = pick(multi)
          val r = rows(byUid(uid)(rnd.nextInt(2)))
          r(idx("org_einheiten")) = s"OE$nextRid"
          event(uid.toString, 6.0, "dup_uid")
        case "kernel_error" if zombies.nonEmpty =>
          val uid = newUid()
          addRow(uid, zombies.remove(0))
          event(uid.toString, 5.0, "kernel_error", attempt = Some(10.0))
        case "bad_key" =>
          val uid = if (single.isEmpty) 1L else pick(single)
          event(uid.toString, 6.0, "bad_key",
            key = Some(if (rnd.nextBoolean()) s"uid=$uid" else s"pk_uniqueid=x$uid"))
        case _ =>
          event(if (single.isEmpty) "1" else pick(single).toString, 7.0, "bad_type")
      }
    }
  }

  /** Eventlog rows as the reference's `;`-delimited CSV with a header
    * (empty = NULL), the format `EtlSchema.readEventsCsv` and the
    * streaming source read.
    */
  def eventsCsv(rows: Seq[Row]): String = {
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val cells = rows.map(_.toSeq.map {
      case null => ""
      case t: java.sql.Timestamp => fmt.format(t)
      case v => v.toString.trim
    }.mkString(";"))
    (EtlSchema.eventFields.mkString(";") +: cells).mkString("", "\n", "\n")
  }
}
