package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextQueries

/** r21: the funnel's quality gate moved from
  * `battery → filter(keep) → select(doc_id) → join back` to ONE native
  * row predicate (`TextQueries.qualityKeepExpr`, backed by
  * QualityRuleKernel.keep) so the corpus is never re-keyed on a
  * corpus-sized id set. This spec pins the predicate EXACTLY equal to
  * the battery's `keep` column — including the boundary rows each rule
  * turns on, the sub-2-token drop the battery expressed as a pre-filter
  * (subsumed by the 30-token word-count floor), and the real corpus.
  */
class QualityKeepParitySpec extends AnyFunSuite with SparkTestSession {

  /** The battery's keep set, computed exactly as the old funnel did. */
  private def batteryKeepIds(docs: org.apache.spark.sql.DataFrame): Set[Long] =
    TextQueries.qualityRuleFrame(
        docs.filter(size(split(col("text"), " ")) >= 2)
          .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("tk")))
      .filter(col("keep")).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet

  private def predicateKeepIds(docs: org.apache.spark.sql.DataFrame): Set[Long] =
    docs.filter(TextQueries.qualityKeepExpr(split(col("text"), " "), col("n_chars")))
      .select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet

  test("kernel keep predicate ≡ battery keep on constructed edge cases") {
    import spark.implicits._
    // a passing doc: 40 tokens, enough stopwords, diverse tokens,
    // mean word length in [3, 10]
    val goodToks = (1 to 36).map(i => s"word$i") ++ Seq("the", "of", "to", "in")
    val good = goodToks.mkString(" ")
    def nc(t: String) = t.length.toLong
    val rows = Seq[(Long, String)](
      (0L, ""),                                   // empty text → 1 empty token
      (1L, "one"),                                // single token
      (2L, "two words"),                          // 2 tokens (battery floor, under word-count floor)
      (3L, (1 to 29).map(i => s"tok$i").mkString(" ")),   // 29 tokens — under floor
      (4L, good),                                 // 40 tokens — passes all five
      (5L, (1 to 1001).map(i => s"w$i").mkString(" ")),   // over the 1000 cap
      (6L, ("the " * 40).trim),                   // top-token mass + bigram fails
      (7L, goodToks.map(_ => "xy").mkString(" ")),// repeated token, short words
      (8L, (1 to 40).map(i => s"verylongtokenword$i").mkString(" ")), // mean word len > 10
      (9L, (1 to 40).map(i => s"w$i").mkString(" ")))     // no stopwords
    val docs = rows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val battery = batteryKeepIds(docs)
    val predicate = predicateKeepIds(docs)
    assert(predicate == battery)
    assert(battery.contains(4L)) // the pass case actually passes
    assert(!battery.contains(3L) && !battery.contains(5L))
  }

  test("kernel keep predicate ≡ battery keep on the sf0.001 corpus") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val battery = batteryKeepIds(docs)
    val predicate = predicateKeepIds(docs)
    assert(predicate == battery)
    // the corpus exercises both verdicts
    assert(battery.nonEmpty)
    assert(predicate.size < docs.count())
  }
}
