package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL corpus interchange — the de-facto wire format for LLM
  * training corpora (one JSON document per line). The reference's
  * source surface is CSV/ODBC snapshots (SURVEY §2.1); JSONL is the
  * corpus-side analog a pipeline needs on top: schema-enforced reads
  * with malformed lines ROUTED, not thrown (the P3 validation
  * discipline applied to a source).
  *
  * Scale notes: the schema is explicit — `inferSchema` on JSONL costs
  * a full extra corpus pass at 100 TB and can drift a column's type
  * between shards (a doc_id that is all-numeric in one file and
  * quoted in another infers LONG vs STRING and the union fails).
  * PERMISSIVE mode with a corrupt-record column keeps one bad line
  * from killing a thousand-file read; the router splits good rows
  * from quarantined raw lines in the same scan.
  */
object JsonlTools {

  /** Corpus schema (matches the documents table) plus the corrupt
    * capture column. Fields nullable: presence is a row-level quality
    * gate (Curation), not a read-time crash.
    */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("_corrupt_record", StringType)))

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Gzip-compressed JSONL shards (.json.gz) — how real corpora ship.
    * Reading needs no codec flag: Spark's text/json sources decode by
    * file extension, so `readJsonl`/`readStreamJsonl` work unchanged,
    * with the SAME corrupt-record routing (decompression happens
    * before line parsing). Scale note: gzip is NOT splittable — one
    * shard = one read task — so shard size, set by the writer's
    * partitioning, IS the read parallelism; keep shards in the
    * 100 MB–1 GB class at scale (zstd/bzip2 splittable variants relax
    * this where the cluster's native codecs allow).
    */
  def writeJsonlGz(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "gzip").json(path)

  /** Schema-enforced JSONL read; malformed lines land whole in
    * `_corrupt_record` with every data column null.
    */
  def readJsonl(s: SparkSession, path: String): DataFrame =
    s.read.schema(docSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Streaming JSONL reader — the continuous-ingest twin of
    * `readJsonl`: same enforced schema and corrupt-record routing over
    * `readStream` (a corpus landing zone where shards arrive over
    * time). File-source semantics: each new file is a micro-batch
    * input; schema enforcement is mandatory here (streaming readers
    * cannot infer).
    */
  def readStreamJsonl(s: SparkSession, path: String): DataFrame =
    s.readStream.schema(docSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Deterministic per-(process, dataset, purpose) JSONL dump target.
    * Stable WITHIN a JVM so Bench's repeated executions overwrite one
    * footprint instead of accumulating corpus-sized copies; namespaced
    * by pid so two concurrent processes benching the same dataset on
    * one host never clobber each other's dump mid-read; namespaced by
    * `tag` so the registered queries that each dump-then-read
    * (q_src_jsonl / q_stream_jsonl / the gz variants) never share a
    * target either.
    */
  def dumpDir(d: String, tag: String = "batch"): String =
    graft.SourceMemo.stagingDir("graft_jsonl_", d) + "_" + tag

  /** Round-trip audit: dump the documents table to JSONL, read it
    * back under the enforced schema, and report per-source exact
    * counts/sums — any parse or type drift in the round trip breaks
    * the oracle match against the parquet originals. Long-only
    * aggregates: float columns through a text format are not
    * bit-stable, longs and strings are.
    */
  def roundTrip(s: SparkSession, d: String): DataFrame = {
    // deterministic per-dataset target, not a fresh createTempDirectory:
    // this is a registered query, so Bench executes it 4x per round and
    // would otherwise strand a corpus-sized JSONL copy per execution
    // until the bench box's tmp fills; overwrite mode makes repeat runs
    // reuse one footprint
    val tmp = dumpDir(d)
    writeJsonl(graft.Tables.documents(s, d), tmp)
    roundTripAgg(readJsonl(s, tmp))
  }

  /** The gz twin of `roundTrip`: dump as .json.gz shards, read back
    * through the extension-dispatched codec path, same exactness
    * contract — proves compressed corpora flow through the identical
    * schema/corrupt-routing machinery with no plaintext special case.
    */
  def roundTripGz(s: SparkSession, d: String): DataFrame = {
    val tmp = dumpDir(d, "batch_gz")
    writeJsonlGz(graft.Tables.documents(s, d), tmp)
    roundTripAgg(readJsonl(s, tmp))
  }

  private def roundTripAgg(back: DataFrame): DataFrame =
    back
      .withColumn("corrupt", col("_corrupt_record").isNotNull.cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("corrupt")).as("n_corrupt"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
}
