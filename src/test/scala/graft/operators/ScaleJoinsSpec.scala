package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSpark
import graft.Tables._

/** The scale-join patterns must be answer-identical to their plain
  * formulations (that is the whole contract: the machinery changes the
  * shuffle, never the result), and the bloom pre-filter must actually
  * prune — a sketch that passes everything is dead weight.
  */
class ScaleJoinsSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  test("salted join equals the plain join") {
    val spark = TestSpark.spark
    val salted = ScaleJoins.saltedJoin(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val dim = customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    val plain = events(spark, dir)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain)
  }

  test("bloom semi equals the plain semi join and the sketch prunes") {
    val spark = TestSpark.spark
    val got = ScaleJoins.bloomSemi(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val keys = orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val plain = lineitem(spark, dir)
      .join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == plain)

    // the pre-filter must discard a real fraction of the fact table:
    // matches ≤ survivors ≤ total, and survivors well under total
    val total = lineitem(spark, dir).count()
    val matches = lineitem(spark, dir)
      .join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    val bf = keys.stat.bloomFilter("o_orderkey", 1L << 20, 0.03)
    val bytes = {
      val o = new java.io.ByteArrayOutputStream(); bf.writeTo(o); o.toByteArray
    }
    val might = org.apache.spark.sql.GraftBridge.column(
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.GraftBridge.expression(lit(bytes)),
        org.apache.spark.sql.GraftBridge.expression(col("l_orderkey"))))
    val survivors = lineitem(spark, dir).filter(might).count()
    assert(matches <= survivors && survivors <= total)
    assert(survivors < total * 0.6,
      s"sketch passed $survivors of $total rows — no real pruning")
  }

  test("deletion-neighborhood fuzzy join equals the quadratic formulation") {
    val spark = TestSpark.spark
    val got = ScaleJoins.fuzzyJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val c = customer(spark, dir).select(col("c_custkey"), col("c_name"))
    val plain = c.select(col("c_custkey").as("a_key"), col("c_name").as("an"))
      .crossJoin(c.select(col("c_custkey").as("b_key"), col("c_name").as("bn")))
      .filter(col("a_key") < col("b_key"))
      .withColumn("dist", levenshtein(col("an"), col("bn")))
      .filter(col("dist") <= 1)
      .select(col("a_key"), col("b_key"), col("dist"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.nonEmpty, "sequential names must yield distance-1 pairs")
    assert(got == plain)
  }

  // Staged tables outlive a query, and a tmp-dir reaper (or a managed-
  // table cleanup) can remove part of them between two runs. A partly
  // reaped staging must re-stage: reusing it fails the query on a
  // cached file listing, and silently drops rows on a fresh one.

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  /** Delete one parquet part file under `table` and return its name. */
  private def reapOnePart(table: java.io.File): String = {
    val part = Option(table.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-")
        && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).headOption
      .getOrElse(fail(s"no staged part file under $table"))
    assert(part.delete(), s"could not delete $part")
    part.getName
  }

  test("q_j13_smb_join re-stages a bucketed table with one part reaped") {
    val spark = TestSpark.spark
    val q = ScaleJoins.queries("q_j13_smb_join")
    val first = rows(q(spark, dir))
    assert(first.nonEmpty)
    val lineitem = new java.io.File(
      graft.tools.JsonlTools.dumpDir(dir, "smb"), "lineitem")
    val reaped = reapOnePart(lineitem)
    assert(rows(q(spark, dir)) == first,
      s"smb join result changed after reaping $reaped")
  }

  test("q_etl_cdf_bucketed re-stages a managed table with one file reaped") {
    val spark = TestSpark.spark
    val q = EtlOps.queries("q_etl_cdf_bucketed")
    val first = rows(q(spark, dir))
    assert(first.nonEmpty)
    val (from, _) = EtlOps.stagedCdfBucketedTables(spark, dir)
    val table = new java.io.File(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(from)).location)
    val reaped = reapOnePart(table)
    assert(rows(q(spark, dir)) == first,
      s"bucketed CDF result changed after reaping $reaped")
  }
}
