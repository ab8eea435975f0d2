package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.UrlQueries

/** Streaming URL-keyed dedup ingest (UrlIngest): per-batch verdicts
  * against corpus ∪ everything-before-the-batch, folded-index
  * equivalence with a from-scratch rebuild (monotone ids, so min
  * election ≡ first-crawled-wins), crash/replay convergence of the
  * tagged append, and the genuine-duplicate fail-stop.
  */
class UrlIngestSpec extends AnyFunSuite with SparkTestSession {

  private def verdictRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted

  test("streaming URL ingest: probe-then-fold per micro-batch, replay converges") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (1L, "https://ex.com/a"),
      (2L, "https://ex.com/b")).toDF("doc_id", "url")
    val b1 = Seq(
      (11L, "HTTPS://WWW.EX.com/a/"),            // dup of stored 1
      (12L, "https://new.com/x?utm_source=1"))   // first fetch of new.com/x
    val b2 = Seq(
      (21L, "https://new.com/x#f"),              // dup ONLY against folded batch 1
      (22L, "https://fresh.org/q"))              // unique
    val path = tempDir("graft_stream_url") + "/idx"
    UrlQueries.initStoredUrlIndex(spark, path, corpus)

    val src = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.SortedMap[Long, Seq[(Long, Long, String)]]()
    val q = graft.streaming.UrlIngest.urlIngest(
        src.toDF().toDF("doc_id", "url"), path,
        (v, batchId) => emitted(batchId) = verdictRows(v))
      .queryName("url_ingest").start()
    try {
      src.addData(b1)
      q.processAllAvailable()
      src.addData(b2)
      q.processAllAvailable()
    } finally q.stop()

    assert(emitted.keySet == Set(0L, 1L))
    assert(emitted(0L) == Seq(
      (11L, 1L, "dup_of_stored"),
      (12L, 12L, "unique")))
    assert(emitted(1L) == Seq(
      (21L, 12L, "dup_of_stored"), // new.com/x was folded by batch 1
      (22L, 22L, "unique")))

    // folded-index equivalence: a held-out probe answers exactly like a
    // from-scratch rebuild over everything ingested (ids are monotone,
    // so the rebuild's min election coincides with first-crawled-wins)
    val heldOut = Seq(
      (31L, "https://ex.com/a"),
      (32L, "https://new.com/x"),
      (33L, "https://never.seen/y")).toDF("doc_id", "url")
    def probeNow() = verdictRows(UrlQueries.probeUrlBatch(spark, path, heldOut))
    val streamed = probeNow()
    val rebuilt = tempDir("graft_url_rebuild") + "/idx"
    UrlQueries.initStoredUrlIndex(spark, rebuilt,
      corpus.unionByName(b1.toDF("doc_id", "url")).unionByName(b2.toDF("doc_id", "url")))
    assert(streamed == verdictRows(UrlQueries.probeUrlBatch(spark, rebuilt, heldOut)))
    assert(streamed == Seq(
      (31L, 1L, "dup_of_stored"),
      (32L, 12L, "dup_of_stored"),
      (33L, 33L, "unique")))

    // crash/replay converges: replaying the last batch's tagged append
    // (same incarnation, same tag) leaves the index unchanged
    val tag1 = graft.streaming.StreamIdentity.batchTag(
      graft.streaming.StreamIdentity.prefixOf(q.id.toString), 1)
    UrlQueries.appendUrlKeepersTagged(spark, path, b2.toDF("doc_id", "url"), tag1)
    assert(probeNow() == streamed, "full replay must leave the index unchanged")
    // mid-append crash: published tag file gone, stage litter left —
    // the batch-start sweep + re-append heal
    val kDir = new java.io.File(
      graft.sources.IndexStore.tableDataPath(spark, path, "keepers"))
    val tagFiles = kDir.listFiles().filter(_.getName.startsWith(s"graft-$tag1-"))
    assert(tagFiles.nonEmpty, "tagged append must publish deterministic names")
    tagFiles.foreach(_.delete())
    spark.range(1).write.parquet(s"$path/keepers__stage_$tag1")
    UrlQueries.sweepUrlStreamBatch(spark, path, tag1)
    UrlQueries.appendUrlKeepersTagged(spark, path, b2.toDF("doc_id", "url"), tag1)
    assert(probeNow() == streamed, "replay after a mid-append crash must converge")

    // a genuine duplicate (different tag re-sending the same docs)
    // fail-stops — replay safety never weakens the gate
    val ex = intercept[IllegalArgumentException] {
      UrlQueries.appendUrlKeepersTagged(spark, path,
        b2.toDF("doc_id", "url"), "stream_99")
    }
    assert(ex.getMessage.contains("disjoint"))
  }
}
