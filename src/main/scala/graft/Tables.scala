package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated TPC-H-ish parquet fixtures
  * (TESTDATA.md). One parquet file per table under the sf dir.
  *
  * All access goes through here so that scan-level concerns (schema
  * pruning, predicate pushdown) are observable in one place; at 100 TB
  * these would be partitioned/bucketed table reads, the call sites do
  * not change.
  */
object Tables {
  /** Schema memo for the fixture tables, keyed by path.
    * `spark.read.parquet` with no schema re-infers from the parquet
    * footer on EVERY call — a driver-side footer open per table
    * reference per execution. The memoized schema IS the schema
    * inference would return, so results are unaffected.
    */
  private val schemaMemo =
    SourceMemo[String, org.apache.spark.sql.types.StructType]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaMemo(path, fingerprint(dir, name), Nil)(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")

  /** Physical layout of `events.ts`, probed from ONE parquet footer
    * with parquet-hadoop directly — metadata-only AND conf-free, so
    * looking at the schema no longer mutates session state (the old
    * probe had to pre-set `nanosAsLong` just to be allowed to read the
    * footer through Spark).
    */
  private[graft] sealed trait TsLayout
  private[graft] object TsLayout {
    /** TIMESTAMP(NANOS): Spark 4 refuses it by default
      * ([PARQUET_TYPE_ILLEGAL]); only readable via the session-wide
      * `nanosAsLong` legacy conf, as a raw ns-since-epoch long. */
    case object NanosLong extends TsLayout
    /** Unannotated INT64 — already ns-since-epoch by fixture contract. */
    case object PlainLong extends TsLayout
    /** TIMESTAMP(MICROS) adjusted-to-UTC → TimestampType (an instant). */
    case object Micros extends TsLayout
    /** TIMESTAMP(MICROS) naive → TimestampNTZType (a wall clock). */
    case object MicrosNtz extends TsLayout
  }

  /** Data part files of a parquet table directory, null-safe (an IO
    * error makes listFiles() return null) — shared by the footer probe
    * and the streaming trigger budget so the two can never disagree on
    * what counts as a data file.
    */
  private[graft] def parquetParts(table: java.io.File): Array[java.io.File] =
    Option(table.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  /** File-metadata fingerprint of `<dir>/<table>.parquet` (the
    * `SourceMemo.print` rule): the source key of every `SourceMemo`
    * derived from a fixture table, so an in-JVM rewrite of the table
    * re-derives.
    */
  private[graft] def fingerprint(dir: String, table: String): String =
    SourceMemo.print(Seq(new java.io.File(dir, s"$table.parquet")))

  /** Layout-probe memo, keyed by dir: the footer open behind
    * `probeTsLayout` runs once per events table version.
    */
  private val layoutMemo = SourceMemo[String, TsLayout]()

  private[graft] def probeTsLayout(s: SparkSession, d: String): TsLayout = {
    layoutMemo(d, fingerprint(d, "events"), Nil)(probeTsLayoutUncached(s, d))
  }

  private def probeTsLayoutUncached(s: SparkSession, d: String): TsLayout = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val table = new java.io.File(d, "events.parquet")
    // flat file (driver testdata) or Spark-written directory (GenScale
    // replicas) — one leaf footer describes the column for the table
    val leaf =
      if (table.isDirectory) {
        val parts = parquetParts(table)
        // fail readably: a directory holding only _SUCCESS (empty-table
        // write, partial copy) would otherwise die on empty.minBy
        require(parts.nonEmpty,
          s"no parquet part files under ${table.getPath} — empty or partially-copied events table")
        parts.minBy(_.getName)
      } else table
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(leaf.getPath), s.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      val field = schema.getType(schema.getFieldIndex("ts"))
      field.getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          if (ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS) TsLayout.NanosLong
          else if (ts.isAdjustedToUTC) TsLayout.Micros
          else TsLayout.MicrosNtz
        case _ =>
          // un-annotated physical types: INT96 is the legacy parquet
          // timestamp encoding (no logical annotation by definition,
          // Spark reads it as TimestampType); a bare INT64 is the
          // fixture contract's raw ns-since-epoch long
          if (field.asPrimitiveType().getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96)
            TsLayout.Micros
          else TsLayout.PlainLong
      }
    } finally r.close()
  }

  /** The naive-wall-clock layouts are pinned to instants via the
    * session zone; graft's contract (matching the DuckDB oracle's
    * `epoch_ns(ts)` reading) is that the wall clock IS UTC. Assert
    * instead of silently shifting every timestamp when an entry point
    * forgot the conf.
    */
  private[graft] def requireUtc(s: SparkSession, who: String): Unit = {
    val tz = s.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
    require(tz == "UTC" || tz == "Etc/UTC" || tz == "+00:00",
      s"$who decodes naive (NTZ) event timestamps via the session zone; " +
        s"set spark.sql.session.timeZone=UTC (found '$tz') or every ts shifts silently")
  }

  /** `events.ts` has shipped in several physical layouts, so the reader
    * is schema-adaptive (branching on a conf-free footer probe). Either
    * way the result contract is fixed: `ts` µs TimestampType, `ts_ns`
    * ns-since-epoch long for exact range predicates.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val layout = probeTsLayout(s, d)
    layout match {
      case TsLayout.NanosLong =>
        // the ONE case that genuinely needs the legacy conf — and needs
        // it for the whole lifetime of the (lazy) frame, because the
        // scan re-reads it at execution; setting it here is the
        // documented price of the NANOS layout, not a probe side effect
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      case TsLayout.MicrosNtz => requireUtc(s, "Tables.events")
      case _ => ()
    }
    val raw = t(s, d, "events")
    layout match {
      case TsLayout.NanosLong | TsLayout.PlainLong =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Explicit fan-out width for pre-explode repartitions. AQE sizes
    * exchanges off the tiny pre-explode rows and would coalesce a wide
    * stage right back to a handful of tasks, so explode-heavy operators
    * pin an explicit partition count — but that count must track the
    * cluster, not a literal. Resolution order: `graft.fanout.partitions`
    * conf (explicit override) → `spark.sql.shuffle.partitions`. Note
    * the session's shuffle.partitions ALWAYS wins, including its 200
    * default on a vanilla session (SQLConf entries with defaults never
    * return None, so the defaultParallelism arm below fires only if the
    * conf is somehow cleared) — every graft entry point (Bench, Verify,
    * Profile, TestSpark) sets shuffle.partitions to the core count, and
    * on a real cluster the session's shuffle sizing is the right width
    * anyway.
    */
  def fanout(s: SparkSession): Int =
    s.conf.getOption("graft.fanout.partitions")
      .orElse(s.conf.getOption("spark.sql.shuffle.partitions"))
      .map(_.toInt)
      .filter(_ > 0)
      .getOrElse(s.sparkContext.defaultParallelism)

  /** Run `body` under STATIC query planning — AQE off, shuffle width
    * fixed from a KNOWN input row count (≥`perPart` rows per partition,
    * capped at the session fan-out) — restoring both confs after.
    *
    * For iterative/multi-stage sections whose input size is already
    * materialized (a checkpointed edge list, a candidate-pair graph),
    * AQE only adds cost: it turns every exchange into its own
    * materialization job to re-plan from observed sizes we already
    * know, and on local[32] those per-job constants dominate small
    * fixtures (~0.2 s/job measured — the dedup CC loop spent 3.5 s of
    * its 4.7 s steady state on them). The width formula makes the same
    * coalesce decision AQE would, once, from the real count — so the
    * block keeps its scale behavior (width grows with the data, capped
    * by the session's shuffle sizing) without per-stage scheduling.
    *
    * Only the ACTIONS executed inside `body` see the static confs;
    * plans returned unexecuted pick up whatever conf is live at their
    * action, so callers materialize (checkpoint) results in-block.
    */
  def withStaticWidth[T](s: SparkSession, rows: Long, perPart: Long = 250000L)
                        (body: => T): T =
    withStaticParts(s, math.min(fanout(s).toLong, rows / perPart + 1L).toInt)(body)

  /** The explicit-width form of `withStaticWidth` — for callers whose
    * optimal width is not a linear rows/perPart rule (e.g. the CC loop,
    * whose per-round constants make width ∝ √rows the balance point).
    */
  def withStaticParts[T](s: SparkSession, parts: Int)(body: => T): T = {
    val aqeWas = s.conf.get("spark.sql.adaptive.enabled")
    val partsWas = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", parts)
    try body
    finally {
      s.conf.set("spark.sql.adaptive.enabled", aqeWas)
      s.conf.set("spark.sql.shuffle.partitions", partsWas)
    }
  }

  /** Exact-sum money column: double → decimal(18,2) so partial-agg order
    * cannot perturb the result (needed for bit-exact DuckDB oracle
    * hashes; also the right call at 100 TB where a double sum over 1e12
    * rows drifts).
    */
  def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(18,2)")
}
