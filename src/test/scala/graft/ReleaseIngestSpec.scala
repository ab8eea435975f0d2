package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IncrementalRelease

/** Streaming release publication (ReleaseIngest, the tenth lifecycle):
  * batch-twin equality of the streamed lineage with a hand-driven
  * publishFull → publishDelta twin, per-batch manifests reaching the
  * caller, replay convergence (no version litter), and the rewound-
  * checkpoint fail-stop.
  */
class ReleaseIngestSpec extends AnyFunSuite with SparkTestSession {

  // a complete logical release frame: full release contract columns
  private def rel(rows: Seq[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "split")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", lit("web"))
      .withColumn("lang", lit("en"))
      .select("doc_id", "text", "n_chars", "source", "lang", "split")
  }

  private def day1 = rel(Seq(
    (1L, "first document body", "train"),
    (2L, "second document body", "train"),
    (3L, "third document body", "val")))
  // day 2: doc 2 changed, doc 3 removed, doc 4 added
  private def day2 = rel(Seq(
    (1L, "first document body", "train"),
    (2L, "second document body revised", "train"),
    (4L, "fourth document body", "val")))

  private def current(root: String) =
    IncrementalRelease.readCurrent(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(5)))
      .sortBy(_._1).toSeq

  test("streamed release lineage equals the hand-driven publish twin, replays converge, rewind fail-stops") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = tempDir("graft_stream_rel")
    val root = s"$tmp/stream"

    val src = MemoryStream[(Long, String, String)]
    val manifests = scala.collection.mutable.SortedMap[Long, Long]()
    val q = graft.streaming.ReleaseIngest.releaseIngest(
        src.toDF().toDF("doc_id", "text", "split")
          .withColumn("n_chars", length(col("text")).cast("long"))
          .withColumn("source", lit("web"))
          .withColumn("lang", lit("en"))
          .select("doc_id", "text", "n_chars", "source", "lang", "split"),
        root,
        (m, batchId) => manifests(batchId) = m.agg(sum("n_docs")).head().getLong(0))
      .queryName("release_ingest").start()
    try {
      src.addData(Seq((1L, "first document body", "train"),
        (2L, "second document body", "train"),
        (3L, "third document body", "val")))
      q.processAllAvailable()
      src.addData(Seq((1L, "first document body", "train"),
        (2L, "second document body revised", "train"),
        (4L, "fourth document body", "val")))
      q.processAllAvailable()
    } finally q.stop()

    assert(manifests.keySet == Set(0L, 1L))
    assert(manifests(0L) == 3L && manifests(1L) == 3L,
      s"per-batch manifests must reach the caller: $manifests")
    assert(IncrementalRelease.versions(spark, root) == Seq(1L, 2L),
      "two snapshots must mint exactly two versions")

    // batch-twin equality: the streamed artifact IS the hand-driven
    // full → delta lineage
    val twin = s"$tmp/twin"
    IncrementalRelease.publishFull(day1, twin)
    IncrementalRelease.publishDelta(day2, twin)
    assert(current(root) == current(twin))
    assert(current(root).map(_._1) == Seq(1L, 2L, 4L))

    // replay convergence: re-publishing the SAME snapshot (crash after
    // commit, checkpoint did not advance) must not mint a version
    val prefix = graft.streaming.StreamIdentity.prefixOf(q.id.toString)
    graft.streaming.ReleaseIngest.ingestReleaseBatch(
      spark, root, day2, prefix, 1L, 8, (_, _) => ())
    assert(IncrementalRelease.versions(spark, root) == Seq(1L, 2L),
      "a replayed batch must no-op via the empty diff, never version up")
    assert(current(root) == current(twin))

    // rewound checkpoint: an older snapshot under a LOWER batchId is a
    // regression-publish and must fail-stop at the monotonic stamp
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.ReleaseIngest.ingestReleaseBatch(
        spark, root, day1, prefix, 0L, 8, (_, _) => ())
    }
    assert(ex.getMessage.contains("rewound"))
    assert(IncrementalRelease.versions(spark, root) == Seq(1L, 2L))

    // an EMPTY batch is a spurious trigger, not a snapshot: the body
    // must skip it entirely (the publisher refuses empty releases by
    // contract) — driven directly, the ingest-body way the rewind case
    // is driven above
    graft.streaming.ReleaseIngest.ingestReleaseBatch(
      spark, root, day2.limit(0), prefix, 7L, 8,
      (_, _) => fail("an empty batch must never publish"))
    assert(IncrementalRelease.versions(spark, root) == Seq(1L, 2L),
      "an empty batch must leave the lineage untouched")

    // a FRESH incarnation (new checkpoint) legitimately continues the
    // lineage: its batch 0 publishes the next delta
    graft.streaming.ReleaseIngest.ingestReleaseBatch(
      spark, root, rel(Seq((1L, "first document body", "train"))),
      "qfresh-00000000", 0L, 8, (_, _) => ())
    assert(IncrementalRelease.versions(spark, root) == Seq(2L, 3L),
      "lag-one retention after the fresh incarnation's delta")
    assert(current(root).map(_._1) == Seq(1L))
  }
}
