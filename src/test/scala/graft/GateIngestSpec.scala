package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.GateIngest

/** Streaming curation gate (GateIngest): streamed kept-set equality
  * with the batch gate twin, PII scrubbed before emission, per-batch
  * audit row exactness, exactly-once audit under replay, and the
  * batch-start sweep healing a crashed prior attempt.
  */
class GateIngestSpec extends AnyFunSuite with SparkTestSession {

  // crafted docs: 'good' pass the Gopher battery + quality; 'junk' fail
  // the symbol/alpha rules; one good doc carries PII to be scrubbed
  private def goodText(i: Int): String =
    (0 until 60).map { j =>
      if (j % 4 == 0) Seq("the", "a", "and", "of", "to", "in")(j % 6)
      else s"word${(i * 13 + j) % 37}"
    }.mkString(" ")
  private def junkText(i: Int): String =
    (0 until 60).map(_ => "####$$$$").mkString(" ")

  private def corpus: Seq[(Long, String)] =
    (0 until 30).map { i =>
      val t =
        if (i == 7) null // a null-text arrival must LOSE at the gate, not vanish
        else if (i % 3 == 2) junkText(i)
        else if (i == 4) goodText(i) + " contact me at jane.doe@example.com now"
        else goodText(i)
      (i.toLong, t)
    }

  test("auditTableOf on a not-yet-published path returns the promised empty frame") {
    val fresh = tempDir("graft_gate_fresh") + "/gate"
    val df = GateIngest.auditTableOf(spark, fresh)
    assert(df.count() == 0L)
    assert(df.columns.contains("n_in") && df.columns.contains("batch_id"))
  }

  test("gate ingest: batch-twin kept set, scrubbed PII, exact audit, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val auditPath = tempDir("graft_gate_audit") + "/gate"

    val src = MemoryStream[(Long, String)]
    val kept = scala.collection.mutable.SortedMap[Long, Seq[(Long, String)]]()
    val keptCols = scala.collection.mutable.Set[Seq[String]]()
    val q = GateIngest.gateIngest(
        src.toDF().toDF("doc_id", "text"), auditPath,
        (df, batchId) => {
          keptCols += df.columns.toSeq
          kept(batchId) =
            df.select("doc_id", "text").as[(Long, String)].collect().toSeq
        })
      .queryName("gate_ingest").start()
    try {
      src.addData(corpus.take(15))
      q.processAllAvailable()
      src.addData(corpus.drop(15))
      q.processAllAvailable()
    } finally q.stop()

    // batch twin: the streamed kept union equals the batch gate over
    // the full corpus (same shared gateFrame, text post-redaction)
    val twin = GateIngest.gateFrame(
        corpus.toDF("doc_id", "text"), minQuality = 0.25)
      .filter(col("kept"))
      .select(col("doc_id"), col("redacted").as("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val streamed = kept.values.flatten.toSeq.sortBy(_._1)
    assert(streamed == twin)
    assert(streamed.nonEmpty && streamed.size < corpus.size,
      "gate must keep some and drop some, or the test is vacuous")

    // the hand-off carries the CALLER's columns only — no gate internals
    assert(keptCols.toSet == Set(Seq("doc_id", "text")))

    // PII scrubbed before emission
    val pii = streamed.find(_._1 == 4L).get._2
    assert(pii.contains("[EMAIL]") && !pii.contains("example.com"))

    // audit: one row per batch, exact attrition numbers; the null-text
    // arrival (doc 7) loses at the Gopher gate instead of vanishing,
    // so every row satisfies n_in = n_kept + drop_gopher + drop_quality
    val audit = GateIngest.auditTableOf(spark, auditPath)
      .orderBy("batch_id")
      .select("batch_id", "n_in", "n_kept", "drop_gopher", "drop_quality",
        "pii_docs")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(audit.map(_._1) == Seq(0L, 1L))
    assert(audit.map(_._2).sum == corpus.size.toLong)
    assert(audit.map(_._3).sum == streamed.size.toLong)
    audit.foreach(r => assert(r._2 == r._3 + r._4 + r._5,
      s"audit row $r violates n_in = kept + dropped"))
    assert(audit.map(_._4).sum ==
      corpus.count(t => t._2 != null && t._2.contains("####")).toLong + 1L)
    assert(audit.map(_._6).sum == 1L)

    // exactly-once: replaying the last batch's tagged append (what a
    // restart does after a crash between append and checkpoint commit)
    // republishes the same row instead of double-counting
    val row1 = GateIngest.gateFrame(
        corpus.drop(15).toDF("doc_id", "text"), minQuality = 0.25)
      .agg(count(lit(1)).as("n_in"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("passes_gopher"), 1L).otherwise(0L)).as("drop_gopher"),
        sum(when(col("passes_gopher") && !col("kept"), 1L).otherwise(0L))
          .as("drop_quality"),
        sum(size(split(col("text"), " ")).cast("long")).as("tokens_in"),
        sum(when(col("kept"), size(split(col("text"), " ")).cast("long"))
          .otherwise(0L)).as("tokens_kept"),
        sum(when(col("kept") &&
          (col("n_emails") + col("n_phones") + col("n_ipv4")) > 0, 1L)
          .otherwise(0L)).as("pii_docs"))
      .withColumn("batch_id", lit(1L))
    graft.sources.IndexStore.publishTaggedAppend(
      spark, auditPath, GateIngest.auditTable,
      graft.streaming.StreamIdentity.batchTag(
        graft.streaming.StreamIdentity.prefixOf(q.id.toString), 1)) { stage =>
      row1.coalesce(1).write.mode("overwrite").parquet(stage)
    }
    val after = GateIngest.auditTableOf(spark, auditPath)
      .orderBy("batch_id")
      .select("batch_id", "n_in", "n_kept", "drop_gopher", "drop_quality",
        "pii_docs")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(after == audit, "replayed audit append must not double-count")
  }
}
