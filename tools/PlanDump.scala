// Prints the optimized logical plans of the set-based CDC cycle
// (`Cdc.cycle` with an unbounded cap) and of `InitialLoad.run` on a
// small in-code fixture, with expression ids and lambda names masked so
// two builds' dumps diff cleanly. Used to show that a change leaves
// these plans alone (plans/cdc_local/).
//
// Compile against a build of the engine (`python3 perfbench/build.py`
// writes one to .bench_build/classes) and run:
//   J=<spark jars dir>; C=.bench_build/classes
//   java -cp "$J/scala-compiler-2.13.17.jar:$J/scala-library-2.13.17.jar:$J/scala-reflect-2.13.17.jar" \
//     scala.tools.nsc.Main -nowarn -d /tmp/plandump -classpath "$C:$J/*" tools/PlanDump.scala
//   java --add-opens=java.base/sun.nio.ch=ALL-UNNAMED -cp "/tmp/plandump:$C:$J/*" PlanDump
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import graft.etl._
import graft.etl.Directory.Entry

object PlanDump {
  private def norm(s: String): String = s
    .replaceAll("#\\d+L?", "#")
    .replaceAll("\\$\\$Lambda[^\\s,)\\]]*", "\\$\\$Lambda")
    .replaceAll("@[0-9a-f]{4,}", "@")

  private def show(name: String, ds: Dataset[_]): Unit =
    println(s"== $name\n${norm(ds.queryExecution.optimizedPlan.toString)}")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def user(uid: Double, cn: String, pw: String): Row =
      Row.fromSeq(EtlSchema.userFields.map {
        case "pk_uniqueid" | "ident_nr" => uid
        case "benutzername" => cn
        case "passwort" => pw
        case "vorname" => "Anna"
        case _ => null
      })
    def users(rows: Row*) = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), EtlSchema.userSchema)
    val conf = EtlConf(baseDn = "ou=user,ou=ph08,o=BMUKK",
      cryptoIvHex = Some("0" * 32), ph15Dn = Some("ou=user,ou=ph15,o=BMUKK"))
    val u0 = users(user(1, "anna", "pw"), user(2, "bert", null),
      user(3, "carl", "x"))
    val load = InitialLoad.run(spark.emptyDataset[Entry], u0, conf)
    show("InitialLoad.snapshot", load.snapshot)
    show("InitialLoad.outcomes", load.outcomes)
    val u1 = users(user(1, "anna2", "pw2"), user(3, "carl", "x"),
      user(4, "dora", "y"))
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val events = spark.createDataFrame(java.util.Arrays.asList(
      Seq(1, 2, 4).map(u => Row(u.toDouble, s"pk_uniqueid=$u", "N  ", 6.0, ts,
        "T", "benutzer_alle_dirxml_v", null, null, null, null, "N  ", "N  ",
        null, null, null, "N  ")): _*), EtlSchema.eventSchema)
    val r = Cdc.cycle(load.snapshot, u1, events,
      conf.copy(etlTimestamp = "20240101000000Z"), maxRecords = Int.MaxValue,
      readTime = ts)
    show("Cdc.cycle(unbounded).snapshot", r.snapshot)
    show("Cdc.cycle(unbounded).eventlog", r.eventlog)
    show("Cdc.cycle(unbounded).eventUpdates", r.eventUpdates)
    show("Cdc.cycle(unbounded).renames", r.renames)
    spark.stop()
  }
}
