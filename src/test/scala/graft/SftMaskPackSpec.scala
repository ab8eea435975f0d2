package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextQueries

/** Per-pack SFT loss-mask accounting (t25): hand-computed interval
  * intersections across pack boundaries, the zero-loss pack flag,
  * loss-token conservation against the per-doc totals, the pluggable
  * prompt-boundary column, and layout invariance. Cross-engine
  * agreement of the full pipeline is the oracle row's job.
  */
class SftMaskPackSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private val quarter = floor((col("n_tokens") + lit(3)) / lit(4)).cast("long")

  private def pack(rows: Seq[(Long, String, Long)],
                   nPrompt: org.apache.spark.sql.Column = quarter) = {
    // synthesize text with exactly n tokens so the whitespace count is n
    val df = rows.toDF("doc_id", "source", "n")
      .withColumn("text", array_join(transform(sequence(lit(1), col("n")),
        i => concat(lit("w"), i)), " "))
      .drop("n")
    TextQueries.sftMaskPackBy(df, size(split(col("text"), " ")).cast("long"), nPrompt)
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSeq
      .sortBy(r => (r._1, r._2))
  }

  test("hand-computed spans: docs of 100/60/30 tokens across two packs") {
    // offsets 0/100/160; prompts 25/15/8 → loss starts 25/115/168
    // pack0: d1 100 toks (75 loss) + d2 28 toks (13 loss) = 128/88
    // pack1: d2 32 toks (32 loss) + d3 30 toks (22 loss)  =  62/54
    val out = pack(Seq((1L, "s", 100L), (2L, "s", 60L), (3L, "s", 30L)))
    assert(out == Seq(
      ("s", 0L, 128L, 88L, 2L, false),
      ("s", 1L, 62L, 54L, 2L, false)))
  }

  test("a pack fully covered by prompt is flagged zero_loss") {
    // one 512-token doc: prompt 128 covers exactly pack 0
    val out = pack(Seq((1L, "s", 512L)))
    assert(out == Seq(
      ("s", 0L, 128L, 0L, 1L, true),
      ("s", 1L, 128L, 128L, 1L, false),
      ("s", 2L, 128L, 128L, 1L, false),
      ("s", 3L, 128L, 128L, 1L, false)))
  }

  test("loss tokens conserve: per-pack sums equal the per-doc n - ceil(n/4) totals") {
    val docs = Seq((1L, "a", 100L), (2L, "a", 1L), (3L, "a", 257L),
      (4L, "b", 128L), (5L, "b", 3L), (6L, "b", 200L))
    val out = pack(docs)
    val expected = docs.groupBy(_._2).view.mapValues(
      _.map { case (_, _, n) => n - (n + 3) / 4 }.sum).toMap
    val got = out.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(got == expected)
    // and total tokens conserve too
    assert(out.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap ==
      docs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap)
  }

  test("a 1-token doc contributes a token but no loss") {
    val out = pack(Seq((1L, "s", 1L)))
    assert(out == Seq(("s", 0L, 1L, 0L, 1L, true)))
  }

  test("the prompt boundary is pluggable: an all-response rule yields full loss") {
    val out = pack(Seq((1L, "s", 100L), (2L, "s", 60L)), nPrompt = lit(0L))
    assert(out.map(r => r._4) == out.map(r => r._3)) // loss == tokens per pack
  }

  test("layout invariance: partitioning never changes the accounting") {
    val rows = Seq((1L, "a", 100L), (2L, "b", 300L), (3L, "a", 7L), (4L, "b", 129L))
    val df = rows.toDF("doc_id", "source", "n")
      .withColumn("text", array_join(transform(sequence(lit(1), col("n")),
        i => concat(lit("w"), i)), " "))
      .drop("n")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextQueries.sftMaskPackBy(d, size(split(col("text"), " ")).cast("long"), quarter)
        .as[(String, Long, Long, Long, Long, Boolean)].collect().toSeq
        .sortBy(r => (r._1, r._2))
    assert(run(df) == run(df.repartition(7)))
  }
}
