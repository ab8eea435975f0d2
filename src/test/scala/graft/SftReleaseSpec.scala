package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PipelineQueries, TextQueries}

/** SFT release pipeline (p8): composition equality against running the
  * standalone t25 accounting over the gated subset, gate semantics,
  * conservation bounds, layout invariance.
  */
class SftReleaseSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  // texts spanning the quality gate: the 'the/a/and' stopword mass and
  // the 100..5000-char window decide who passes
  private def corpus(n: Int): Seq[(Long, String, String)] =
    (0 until n).map { i =>
      val good = i % 3 != 0
      val words =
        if (good) (0 until 40).map(j =>
          if (j % 3 == 0) "the" else s"w${(i * 17 + j) % 23}")
        else (0 until 8).map(j => s"x${i}y$j") // short + no stopwords
      (i.toLong, words.mkString(" "), s"s${i % 2}")
    }

  private def docsOf(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))

  test("pipeline rollup equals the standalone t25 accounting over the gated subset") {
    val df = docsOf(corpus(60))
    val got = PipelineQueries.sftReleaseOf(df)
      .as[(String, Long, Long, Long, Long, Long, Double)]
      .collect().toSeq.sortBy(_._1)
    val tk = split(col("text"), " ")
    val kept = df.filter(TextQueries.qualityExpr(tk, col("n_chars")) >= 0.5)
    val packs = TextQueries.sftMaskPackBy(kept,
        size(split(col("text"), " ")).cast("long"),
        floor((col("n_tokens") + lit(3)) / lit(4)).cast("long"))
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSeq
    val want = packs.groupBy(_._1).map { case (src, ps) =>
      val pt = ps.map(_._3).sum
      val lt = ps.map(_._4).sum
      (src, ps.size.toLong, ps.map(_._5).sum, pt, lt,
        ps.count(_._6).toLong,
        BigDecimal(lt.toDouble / pt).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)
    assert(got == want)
  }

  test("the gate really excludes low-quality docs from the layout") {
    val df = docsOf(corpus(60))
    val total = PipelineQueries.sftReleaseOf(df)
      .agg(sum("pack_tokens")).as[Long].head()
    val tk = split(col("text"), " ")
    val keptTokens = df
      .filter(TextQueries.qualityExpr(tk, col("n_chars")) >= 0.5)
      .select(sum(size(tk).cast("long"))).as[Long].head()
    val allTokens = df.select(sum(size(tk).cast("long"))).as[Long].head()
    assert(total == keptTokens)
    assert(total < allTokens)
  }

  test("conservation: loss <= pack tokens and loss_frac in [0, 1]") {
    val out = PipelineQueries.sftReleaseOf(docsOf(corpus(60)))
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
    out.foreach { r =>
      assert(r._5 <= r._4)
      assert(r._7 >= 0.0 && r._7 <= 1.0)
    }
  }

  test("layout invariance") {
    val df = docsOf(corpus(45))
    def go(d: DataFrame) = PipelineQueries.sftReleaseOf(d)
      .as[(String, Long, Long, Long, Long, Long, Double)]
      .collect().toSeq.sortBy(_._1)
    assert(go(df) == go(df.repartition(7)))
  }
}
