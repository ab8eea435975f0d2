package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.UrlQueries

/** d14 URL canonicalization + dedup: each canonicalization step on
  * hand-built URLs, the steps production pipelines get wrong (path case
  * preserved, non-default ports preserved, non-tracker params
  * preserved, schemes not folded, root slash kept), idempotence, and
  * the min-doc_id keep election.
  */
class UrlDedupSpec extends AnyFunSuite with SparkTestSession {

  private def canon(urls: String*): Seq[String] = {
    import spark.implicits._
    urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("doc_id", "url")
      .select(UrlQueries.canonicalUrl(col("url")))
      .collect().map(_.getString(0)).toSeq
  }

  test("case: scheme and host lowered, path case preserved") {
    assert(canon("HTTPS://WWW.Ex.COM/Path/Q") == Seq("https://ex.com/Path/Q"))
  }

  test("ports: default stripped per scheme, non-default preserved") {
    assert(canon(
      "https://ex.com:443/a",
      "http://ex.com:80/a",
      "https://ex.com:8443/a",
      "http://ex.com:443/a") == Seq(
      "https://ex.com/a",
      "http://ex.com/a",
      "https://ex.com:8443/a",
      "http://ex.com:443/a"))
  }

  test("fragments and trackers dropped; non-tracker params survive in order") {
    assert(canon(
      "https://ex.com/a#sec2",
      "https://ex.com/a?utm_source=x",
      "https://ex.com/a?utm_source=x&utm_medium=y",
      "https://ex.com/a?id=7&utm_source=x",
      "https://ex.com/a?utm_source=x&id=7",
      "https://ex.com/a?id=7&b=2") == Seq(
      "https://ex.com/a",
      "https://ex.com/a",
      "https://ex.com/a",
      "https://ex.com/a?id=7",
      "https://ex.com/a?id=7",
      "https://ex.com/a?id=7&b=2"))
  }

  test("trailing slash stripped; bare root unifies with the empty path; schemes not folded") {
    assert(canon(
      "https://ex.com/a/b/",
      "https://ex.com/",
      "https://ex.com",
      "http://ex.com/a",
      "https://ex.com/a") == Seq(
      "https://ex.com/a/b",
      "https://ex.com",
      "https://ex.com",
      "http://ex.com/a",
      "https://ex.com/a"))
  }

  test("tracker names inside OTHER tokens are never stripped (anchored removal)") {
    assert(canon(
      "https://ex.com/p?xgclid=1",
      "https://ex.com/p?xgclid=2",
      "https://ex.com/a/gclid=b/rest",
      "https://ex.com/p?utm_source=x&utm_medium=y&id=7") == Seq(
      "https://ex.com/p?xgclid=1",
      "https://ex.com/p?xgclid=2",
      "https://ex.com/a/gclid=b/rest",
      "https://ex.com/p?id=7"))
  }

  test("a null url fail-stops instead of silently vanishing from keyed joins") {
    import spark.implicits._
    val df = Seq((1L, "https://ex.com/a"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "url")
    val ex = intercept[Exception] {
      UrlQueries.urlDedup(df).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("null url"))
  }

  test("idempotent: canonicalizing a canonical URL changes nothing") {
    val once = canon("HTTPS://WWW.Ex.COM:443/A/?utm_source=x#f")
    assert(canon(once: _*) == once)
  }

  test("stored probe: three-way verdicts match the stored/first-crawled-wins contract") {
    import spark.implicits._
    val tmp = tempDir("d14bidx")
    val corpus = Seq(
      (100L, "https://ex.com/p/1"),
      (101L, "https://ex.com/p/2"))
      .toDF("doc_id", "url")
    UrlQueries.initStoredUrlIndex(spark, tmp, corpus)
    val batch = Seq(
      (1L, "HTTPS://WWW.EX.com/p/1/"),          // dup of stored 100 (stored wins despite smaller id)
      (2L, "https://ex.com/new?utm_source=a"),  // first fetch of a new address
      (3L, "https://www.ex.com/new#f"),         // same new address again -> dup in batch
      (4L, "https://ex.com/other"))             // unique
      .toDF("doc_id", "url")
    val out = UrlQueries.probeUrlBatch(spark, tmp, batch)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) == ((100L, "dup_of_stored")), "stored keeper must stand")
    assert(out(2L) == ((2L, "unique")))
    assert(out(3L) == ((2L, "dup_in_batch")))
    assert(out(4L) == ((4L, "unique")))
  }

  test("stored probe equals the full-run election restricted to the batch (corpus precedence)") {
    import spark.implicits._
    val tmp = tempDir("d14bfull")
    // ids chosen so corpus ids are LARGER than batch ids — the full-run
    // min election and the first-crawled-wins probe disagree on raw
    // min, so the test pins the intended semantics: stored keeper wins
    val corpus = Seq((50L, "https://a.com/x"), (60L, "https://b.com/y"))
      .toDF("doc_id", "url")
    val batch = Seq((1L, "https://a.com/x"), (2L, "https://c.com/z"))
      .toDF("doc_id", "url")
    UrlQueries.initStoredUrlIndex(spark, tmp, corpus)
    val out = UrlQueries.probeUrlBatch(spark, tmp, batch)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) == ((50L, "dup_of_stored")))
    assert(out(2L) == ((2L, "unique")))
  }

  test("keep election: min doc_id per canonical, others flagged dropped") {
    import spark.implicits._
    val docs = Seq(
      (10L, "https://www.ex.com/p/1"),
      (3L, "HTTPS://EX.com/p/1/"),
      (7L, "https://ex.com:443/p/1?utm_source=a"),
      (5L, "http://other.com/x"))
      .toDF("doc_id", "url")
    val out = UrlQueries.urlDedup(docs)
      .collect().map(r => r.getLong(1) -> r.getBoolean(3)).toMap
    assert(out == Map(10L -> false, 3L -> true, 7L -> false, 5L -> true))
  }
}
