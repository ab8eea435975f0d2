package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SampleQueries

/** c4 two-phase exact stratified sampling: the hash pre-filter + rank
  * window (+ survivor-count fallback) must equal the naive full-window
  * answer on every stratum shape — tiny strata (N_s < n, fallback
  * branch fires), mid strata (p = 1, no pre-filtering), and large
  * strata (p ≪ 1, pre-filter active).
  */
class StratifiedSampleSpec extends AnyFunSuite with SparkTestSession {

  test("two-phase sample equals naive window on a skewed corpus; both branches taken") {
    import spark.implicits._
    val tmp = tempDir("graft_c4")
    // srcA: 4 docs (< n=10 → survivors < n → unfiltered fallback branch)
    // srcB: 30 docs (p = 40/30 → 1, every row survives, okS branch)
    // srcC: 600 docs (p = 40/600 ≈ 0.067 → pre-filter really prunes)
    val rows =
      (0 until 4).map(i => (i.toLong, s"text $i", "en", "srcA", 10L)) ++
      (4 until 34).map(i => (i.toLong, s"text $i", "en", "srcB", 10L)) ++
      (34 until 634).map(i => (i.toLong, s"text $i", "en", "srcC", 10L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val got = SampleQueries.cStratified.fn(spark, tmp)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val want = spark.read.parquet(s"$tmp/documents.parquet")
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= 10)
      .select("source", "doc_id", "sample_rank")
      .orderBy("source", "sample_rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    assert(got == want, "two-phase result must equal the naive full window")
    // stratum sizes: min(n, N_s) each
    val bySrc = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(bySrc == Map("srcA" -> 4, "srcB" -> 10, "srcC" -> 10))
    // the pre-filter really pruned srcC: its candidate pool (hfrac < p)
    // is far smaller than the stratum — sanity-check the mechanism by
    // recomputing the survivor count the operator used
    val survC = spark.read.parquet(s"$tmp/documents.parquet")
      .filter(col("source") === "srcC")
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double") / lit(4294967296.0) < lit(40.0 / 600.0))
      .count()
    assert(survC >= 10 && survC < 150,
      s"pre-filter should prune srcC to ~40 candidates, got $survC")
  }
}
