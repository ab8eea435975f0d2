package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SubwordQueries
import graft.functions.SubwordExpressions
import graft.functions.MergeTable

/** Tokenizer fertility audit (t26): per-language rollup recomputed
  * independently from the per-word merge encode, premium semantics
  * (en ≡ 1, token-hungrier languages > 1), missing-reference abort,
  * layout invariance. Merge-encode correctness itself is SubwordSpec /
  * oracle t22's job — here the merges are a fixture.
  */
class FertilitySpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  // 'aa' merges to one token under this table; 'b' stays one char
  private val merges: Array[(String, String)] = Array(("a", "a"))

  private def docsOf(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")))
      .withColumn("source", lit("s0"))

  private val corpus = Seq(
    (1L, "aa aa b", "en"),    // ws 3, merge tokens 1+1+1 = 3
    (2L, "aaaa b", "en"),     // ws 2, merge 2+1 = 3
    (3L, "aaa aaa", "xx"),    // ws 2, merge (aa,a)x2 = 4
    (4L, "b b b b", "xx"))    // ws 4, merge 4

  private def run(rows: Seq[(Long, String, String)]) =
    SubwordQueries.tokenizerFertilityOf(docsOf(rows), merges)
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq.sortBy(_._1)

  test("per-language rollup matches an independent per-word recompute") {
    val out = run(corpus)
    // en: ws 5, merge 6, chars 7+6=13 -> fertility 1.2, cpt 13/6
    // xx: ws 6, merge 8, chars 7+7=14 -> fertility 8/6, cpt 14/8
    val en = out.find(_._1 == "en").get
    val xx = out.find(_._1 == "xx").get
    assert(en == (("en", 2L, 5L, 6L, 13L, 1.2,
      BigDecimal(13.0 / 6).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 1.0)))
    assert(xx._2 == 2L && xx._3 == 6L && xx._4 == 8L && xx._5 == 14L)
    assert(math.abs(xx._6 - 8.0 / 6) < 1e-5)
  }

  test("premium is 1 for the reference language and fertility-relative elsewhere") {
    val out = run(corpus)
    val en = out.find(_._1 == "en").get
    val xx = out.find(_._1 == "xx").get
    assert(en._8 == 1.0)
    assert(math.abs(xx._8 - xx._6 / en._6) < 1e-5)
    assert(xx._8 > en._8) // xx is token-hungrier under this table
  }

  test("kernel agreement: the rollup equals summing the t22 kernel per doc") {
    val table = new MergeTable(merges)
    val perDoc = docsOf(corpus)
      .select(col("lang"),
        SubwordExpressions.bpeMergeStats(split(col("text"), " "), table)
          .getField("n_tokens_merge").as("mt"))
      .as[(String, Long)].collect().toSeq
    val byLang = perDoc.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val out = run(corpus).map(r => r._1 -> r._4).toMap
    assert(out == byLang)
  }

  test("missing reference language aborts loudly") {
    val e = intercept[IllegalArgumentException] {
      run(corpus.map { case (id, t, _) => (id, t, "xx") })
    }
    assert(e.getMessage.contains("reference language"))
  }

  test("layout invariance") {
    val df = docsOf(corpus)
    def go(d: DataFrame) = SubwordQueries.tokenizerFertilityOf(d, merges)
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq.sortBy(_._1)
    assert(go(df) == go(df.repartition(5)))
  }
}
