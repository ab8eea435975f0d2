package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SampleQueries

/** Water-filling budget allocation (c17): hand-computed saturation
  * case, budget conservation (Σ quota ≤ B, shortfall bounded by
  * |sources|), quota ≤ availability, all-saturated degenerate case,
  * layout invariance.
  */
class WaterFillSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  /** one doc per (source, tokens) pair with exactly n tokens */
  private def docsOf(av: Seq[(String, Int)]): DataFrame =
    av.zipWithIndex.map { case ((src, n), i) =>
      (i.toLong, (1 to n).map(j => s"w$j").mkString(" "), src)
    }.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))

  private def run(av: Seq[(String, Int)], b: Long) =
    SampleQueries.waterFillOf(docsOf(av), b)
      .as[(String, Long, Double, Long, Boolean)].collect().toSeq.sortBy(_._1)

  test("hand-computed saturation: the scarce source caps at availability") {
    // a = (10, 10000, 10000), w = (sqrt10, 100, 100), B = 5000:
    // s0 saturates (ratio 3.16 < lambda), lambda = 4990/200 = 24.95,
    // s1/s2 quotas = floor(2495.0) each — budget exactly consumed
    val out = run(Seq(("s0", 10), ("s1", 10000), ("s2", 10000)), 5000L)
    assert(out.map(r => (r._1, r._4, r._5)) == Seq(
      ("s0", 10L, true), ("s1", 2495L, false), ("s2", 2495L, false)))
    assert(out.map(_._4).sum == 5000L)
  }

  test("budget conservation: sum of quotas <= B with shortfall <= |sources|") {
    val av = Seq(("a", 137), ("b", 2411), ("c", 89), ("d", 977))
    val out = run(av, 1500L)
    val q = out.map(_._4).sum
    assert(q <= 1500L && 1500L - q <= av.size.toLong)
  }

  test("quota never exceeds availability") {
    val out = run(Seq(("a", 137), ("b", 2411), ("c", 89)), 1500L)
    out.foreach(r => assert(r._4 <= r._2))
  }

  test("budget >= total availability: everything saturates at availability") {
    val out = run(Seq(("a", 100), ("b", 200)), 10000L)
    assert(out.forall(r => r._4 == r._2 && r._5))
  }

  test("a null source (permitted by the JSONL ingest contract) is a real group") {
    import spark.implicits._
    val df = Seq(
      (1L, (1 to 100).map(j => s"w$j").mkString(" "), "s0"),
      (2L, (1 to 50).map(j => s"w$j").mkString(" "), null))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    val out = SampleQueries.waterFillOf(df, 60L)
      .select("source", "quota_tokens").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
    assert(out.size == 2)
    assert(out.exists(_._1.isEmpty)) // the null group got a plan row
    assert(out.map(_._2).sum <= 60L)
  }

  test("empty corpus aborts loudly") {
    val e = intercept[IllegalArgumentException] {
      run(Nil, 100L)
    }
    assert(e.getMessage.contains("no sources"))
  }

  test("layout invariance") {
    val av = Seq(("a", 137), ("b", 2411), ("c", 89), ("d", 977))
    def go(d: DataFrame) = SampleQueries.waterFillOf(d, 1500L)
      .as[(String, Long, Double, Long, Boolean)].collect().toSeq.sortBy(_._1)
    val df = docsOf(av)
    assert(go(df) == go(df.repartition(5)))
  }
}
