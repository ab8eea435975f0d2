package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ReleaseWriter

/** Versioned release publication: the commit-marker contract applied to
  * the release sink — a crash mid-write must leave the PREVIOUS
  * release current and intact, republish must reproduce the manifest,
  * and retention must keep exactly one superseded release.
  */
class ReleasePublishSpec extends AnyFunSuite with SparkTestSession {

  private def docs(n: Int, tag: String = "") = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"doc body $i$tag", 10L + i,
      if (i % 2 == 0) "train" else "test"))
      .toDF("doc_id", "text", "n_chars", "split")
  }

  private def freshRoot() =
    tempDir("graft_relpub") + "/rel"

  private def fs(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("first publish commits v1; republish of identical docs reproduces the manifest at v2") {
    val root = freshRoot()
    val m1 = ReleaseWriter.publishRelease(docs(40), root).collect().toSeq
    assert(ReleaseWriter.currentReleasePath(spark, root).contains(s"$root/v1"))
    val m2 = ReleaseWriter.publishRelease(docs(40), root).collect().toSeq
    assert(ReleaseWriter.currentReleasePath(spark, root).contains(s"$root/v2"))
    assert(m1.map(_.toString).sorted == m2.map(_.toString).sorted,
      "republishing identical docs must reproduce the manifest bit-for-bit")
  }

  test("a crashed writer (version dir without marker) leaves the previous release current; the next publish sweeps it") {
    val root = freshRoot()
    ReleaseWriter.publishRelease(docs(20), root)
    // simulate a writer that died after writing files but before the
    // marker: data exists under v2, no v2.__commit
    val f = fs(root)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$root/v2/split=train"))
    assert(ReleaseWriter.currentReleasePath(spark, root).contains(s"$root/v1"),
      "an uncommitted version must be invisible to consumers")
    // the next publish sweeps the orphan and commits its own v2
    val m = ReleaseWriter.publishRelease(docs(20, tag = "x"), root)
    assert(ReleaseWriter.currentReleasePath(spark, root).contains(s"$root/v2"))
    assert(m.count() > 0)
  }

  test("lag-one retention: the third publish deletes v1, keeps v2 for in-flight readers") {
    val root = freshRoot()
    ReleaseWriter.publishRelease(docs(10), root)
    ReleaseWriter.publishRelease(docs(10, "a"), root)
    ReleaseWriter.publishRelease(docs(10, "b"), root)
    val f = fs(root)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$root/v1")), "v1 must be retired")
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$root/v2")), "lag-one keeps v2")
    assert(ReleaseWriter.currentReleasePath(spark, root).contains(s"$root/v3"))
  }

  test("an unpublishable release (empty docs, zero part files) fails BEFORE commit; previous release stays current") {
    val root = freshRoot()
    ReleaseWriter.publishRelease(docs(15), root)
    import spark.implicits._
    val empty = Seq.empty[(Long, String, Long, String)]
      .toDF("doc_id", "text", "n_chars", "split")
    intercept[Exception] { ReleaseWriter.publishRelease(empty, root) }
    // the failed publish must NOT have committed: v1 is still current
    // and readable, and the next good publish recovers normally
    assert(ReleaseWriter.currentReleasePath(spark, root).contains(s"$root/v1"))
    assert(spark.read.parquet(s"$root/v1").count() == 15)
    ReleaseWriter.publishRelease(docs(15), root)
    assert(ReleaseWriter.currentReleasePath(spark, root).contains(s"$root/v2"))
  }

  test("the published manifest equals writeRelease's manifest for the same docs") {
    val root = freshRoot()
    val viaPublish = ReleaseWriter.publishRelease(docs(30), root).collect().toSeq
    val viaWrite = ReleaseWriter.writeRelease(docs(30), freshRoot() + "/plain")
      .collect().toSeq
    assert(viaPublish.map(_.toString).sorted == viaWrite.map(_.toString).sorted)
  }

  test("jsonl release: identical manifest to the parquet release (cross-format integrity)") {
    val d = docs(40)
    val viaParquet = ReleaseWriter.publishRelease(d, freshRoot()).collect().toSeq
    val jsonRoot = freshRoot()
    val viaJson = ReleaseWriter.publishRelease(d, jsonRoot, format = "jsonl")
      .collect().toSeq
    assert(viaJson.map(_.toString).sorted == viaParquet.map(_.toString).sorted,
      "the content digest must not depend on the serialization format")
    // the written files really are gzipped JSON-lines under split dirs
    val f = fs(jsonRoot)
    val parts = f.globStatus(new org.apache.hadoop.fs.Path(
      s"$jsonRoot/v1/split=*/part-*.json.gz"))
    assert(parts != null && parts.nonEmpty, "expected .json.gz part files")
    // and the read-back round-trips rows exactly
    assert(ReleaseWriter.readRelease(spark, s"$jsonRoot/v1", "jsonl").count() == 40)
  }

  test("empty jsonl publish is refused before commit (explicit-schema read cannot rely on inference failure)") {
    val root = freshRoot()
    ReleaseWriter.publishRelease(docs(5), root, format = "jsonl")
    import spark.implicits._
    val empty = Seq.empty[(Long, String, Long, String)]
      .toDF("doc_id", "text", "n_chars", "split")
    intercept[IllegalStateException] {
      ReleaseWriter.publishRelease(empty, root, format = "jsonl")
    }
    assert(ReleaseWriter.currentReleasePath(spark, root).contains(s"$root/v1"))
  }

  test("numeric split labels stay strings through the parquet read-back (review finding)") {
    import spark.implicits._
    // partition-column type inference would read split=2024 as int and
    // split=01 as 1, breaking written-vs-logical manifest equality
    val d = (1 to 20).map(i => (i.toLong, s"doc body $i", 10L + i,
      if (i % 2 == 0) "2024" else "01")).toDF("doc_id", "text", "n_chars", "split")
    val written = ReleaseWriter.publishRelease(d, freshRoot()).collect().toSeq
    val logical = ReleaseWriter.manifestOf(d).collect().toSeq
    assert(written.map(_.toString).sorted == logical.map(_.toString).sorted)
    assert(written.map(_.getString(0)).toSet == Set("2024", "01"))
  }

  test("unknown format fails loudly") {
    intercept[IllegalArgumentException] {
      ReleaseWriter.publishRelease(docs(5), freshRoot(), format = "orc")
    }
  }
}
