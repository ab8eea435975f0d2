package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.PipelineQueries

/** p11 release changelog: exact status classification on hand-built
  * release frames, partition-of-union accounting, all-unchanged on an
  * identical pair, and the artifact round-trip — the changelog of the
  * PUBLISHED incremental versions equals the changelog of the logical
  * frames that were published.
  */
class ReleaseChangelogSpec extends AnyFunSuite with SparkTestSession {

  // artifact frames always carry lang (readVersion reads fullSchema —
  // null when the publisher had none), so the fixture models that; a
  // null lang on both sides is 'unchanged' under the null-safe compare
  private def rel(rows: (Long, String, String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text", "source", "split")
      .withColumn("lang", org.apache.spark.sql.functions.lit(null: String))
  }

  test("classifies added / removed / changed / unchanged exactly") {
    val prev = rel(
      (1L, "same", "s", "train"),
      (2L, "old body", "s", "train"),
      (3L, "gone", "s", "test"))
    val cur = rel(
      (1L, "same", "s", "train"),
      (2L, "new body", "s", "train"),
      (4L, "fresh", "t", "val"))
    val out = PipelineQueries.releaseChangelog(prev, cur)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(out(("s", "train", "unchanged")) == ((1L, 1L)))
    assert(out(("s", "train", "changed")) == ((1L, 2L)))
    assert(out(("s", "test", "removed")) == ((1L, 3L)))
    assert(out(("t", "val", "added")) == ((1L, 4L)))
    assert(out.size == 4)
  }

  test("null governance fields on both sides are 'unchanged' (null-safe compare)") {
    // r19 self-review: === on a null-on-both-sides source/split
    // misreported the doc as 'changed' — every governance compare is <=>
    val f = rel((1L, "same", "s", "train"))
      .withColumn("source", org.apache.spark.sql.functions.lit(null: String))
    val out = PipelineQueries.releaseChangelog(f, f)
      .collect().map(r => (r.getString(2), r.getLong(3))).toSeq
    assert(out == Seq(("unchanged", 1L)), s"got $out")
  }

  test("statuses partition the union of both releases' doc ids") {
    val prev = rel((1L, "a", "s", "train"), (2L, "b", "s", "train"))
    val cur = rel((2L, "b2", "s", "train"), (3L, "c", "s", "train"))
    val n = PipelineQueries.releaseChangelog(prev, cur)
      .agg(sum("n_docs")).head.getLong(0)
    assert(n == 3L, "1 removed + 1 changed + 1 added")
  }

  test("identical releases yield only 'unchanged' rows") {
    val a = rel((1L, "x", "s", "train"), (2L, "y", "t", "test"))
    val out = PipelineQueries.releaseChangelog(a, a).collect()
    assert(out.forall(_.getString(2) == "unchanged"))
    assert(out.map(_.getLong(3)).sum == 2L)
  }

  test("artifact round-trip: changelog of published versions equals the logical changelog") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val tmp = tempDir("p11chlog")
    val day1 = PipelineQueries.releasedDocsOf(
      graft.operators.Scaffold.previousSnapshot(graft.sources.Tables.documents(s, dir)))
    val day2 = PipelineQueries.releasedDocs(s, dir)
    graft.sources.IncrementalRelease.publishFull(day1, tmp)
    graft.sources.IncrementalRelease.publishDelta(day2, tmp)
    val vs = graft.sources.IncrementalRelease.versions(s, tmp)
    val fromArtifact = PipelineQueries.releaseChangelog(
      graft.sources.IncrementalRelease.readVersion(s, tmp, vs(vs.length - 2)),
      graft.sources.IncrementalRelease.readVersion(s, tmp, vs.last)).collect().toSeq
    val logical = PipelineQueries.releaseChangelog(day1, day2).collect().toSeq
    assert(fromArtifact == logical)
    assert(fromArtifact.exists(_.getString(2) != "unchanged"),
      "fixture delta must be non-vacuous")
  }
}
