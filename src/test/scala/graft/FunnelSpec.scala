package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PipelineQueries

/** The p7 gated-release funnel on a hand-built corpus where every
  * stage drops a KNOWN document for a KNOWN reason — the oracle row
  * proves cross-engine equality on the real corpus; this spec proves
  * each stage's semantics in isolation (which doc fell where and why).
  */
class FunnelSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  // a gate-passing body: 60 words with stopwords (GopherSpec's recipe)
  private def healthy(tag: String): String =
    (1 to 60).map(i => if (i % 10 == 0) "the" else if (i % 7 == 0) "of" else s"$tag$i")
      .mkString(" ")

  test("each funnel stage drops exactly the constructed documents") {
    val chrome = "Subscribe  Now"                 // boilerplate in 3 docs (floor 3)
    val evalText = healthy("ev")                  // doc 37 = eval holdout
    // doc 3 embeds an exact 5-gram of the eval doc → contaminated
    val evalGram = evalText.split(" ").slice(10, 15).mkString(" ")
    val rows = Seq(
      // 1 and 2: identical after line-cleaning → canonical keeps 1
      (1L, chrome + "\n" + healthy("aa")),
      (2L, healthy("aa") + "\n" + chrome),
      (3L, chrome + "\n" + healthy("bb") + " " + evalGram),
      (4L, "the of tiny doc"),                    // fails the gate (word count)
      (37L, evalText))
    val docs0 = rows.toDF("doc_id", "text")
    val raw = docs0.select(col("doc_id"),
      translate(col("text"), "\n", " ").as("text"))
    val out = PipelineQueries.gatedReleaseFunnelOf(raw, docs0)
      .collect().map(r => r.getAs[String]("stage") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))).toMap

    // token counting mirrors the operator: split on single space,
    // empty tokens (the chrome's doubled space) count
    val tok: String => Long = s => s.split(" ", -1).length.toLong
    val t0 = rows.map { case (_, t) => tok(t.replace('\n', ' ')) }.sum
    val aa = tok(healthy("aa"))
    val bb3 = tok(healthy("bb") + " " + evalGram)
    val short4 = tok("the of tiny doc")
    val ev = tok(evalText)
    assert(out("raw") == ((5L, t0)))
    // cleaning drops the chrome line from docs 1, 2, 3
    assert(out("line_cleaned") == ((5L, 2 * aa + bb3 + short4 + ev)))
    // docs 1/2 are identical once cleaned → one canonical copy
    assert(out("canonical") == ((4L, aa + bb3 + short4 + ev)))
    // doc 4 fails the word-count rule
    assert(out("gated") == ((3L, aa + bb3 + ev)))
    // doc 37 is the eval holdout
    assert(out("heldout_dropped") == ((2L, aa + bb3)))
    // doc 3 shares a 5-gram with the eval doc → decontaminated away;
    // only canonical doc 1 ships
    assert(out("released") == ((1L, aa)))
  }

  test("funnel is monotone non-increasing from the cleaning stage on") {
    val out = SparkEntry.queries("p7_gated_funnel")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getAs[Int]("stage_id"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))
    assert(out.map(_._1).toSeq == (0 to 5))
    out.sliding(2).foreach {
      case Array((_, d1, t1), (s2, d2, t2)) =>
        assert(d2 <= d1, s"stage $s2 grew docs")
        assert(t2 <= t1, s"stage $s2 grew tokens")
      case _ => ()
    }
    // the funnel genuinely discriminates on this corpus
    assert(out.head._2 > out.last._2)
  }
}
