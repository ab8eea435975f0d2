package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupQueries, SampleQueries, UrlQueries}
import graft.sources.{IncrementalRelease, IndexStore}
import graft.streaming.{CrawlIngest, GateIngest, StreamIdentity}

/** The composed streaming crawl front-door (CrawlIngest, r20 — the
  * r19 verdict's #4): URL keeper probe → gate + scrub → near-dup
  * probe → release delta as ONE micro-batch body. Pins (1) batch-twin
  * equality — the streamed release equals the one-shot batch
  * composition of the standalone stage operators over the
  * concatenated arrivals; (2) crash/replay convergence across ALL the
  * stores a batch touches, including a crash BETWEEN stage folds.
  */
class CrawlIngestSpec extends AnyFunSuite with SparkTestSession {

  // gate-passing prose (the GateIngestSpec recipe: stopword density,
  // alpha words, varied vocabulary) with per-doc-unique payload words
  private def goodText(i: Int): String =
    (0 until 60).map { j =>
      if (j % 4 == 0) Seq("the", "a", "and", "of", "to", "in")(j % 6)
      else s"word${(i * 997 + j * 13) % 9973}x$i"
    }.mkString(" ")
  private def junkText: String = (0 until 60).map(_ => "####$$$$").mkString(" ")

  // batch 1 (ids 100+) and batch 2 (ids 200+) — monotone crawl ids;
  // every composed stage has a doc that only IT drops, and batch 2's
  // drops depend on batch 1's FOLDS
  private def b1: Seq[(Long, String, String)] = Seq(
    (100L, goodText(1), "https://site.com/a"),
    (101L, junkText, "https://site.com/junk1"),
    (102L, goodText(2) + " contact jane.doe@example.com now",
      "https://site.com/pii"),
    // URL dup WITHIN the crawl of doc 100's address → URL stage drops
    (103L, goodText(3), "HTTPS://WWW.SITE.com/a/"),
    (104L, goodText(4), "https://site.com/d"))
  private def b2: Seq[(Long, String, String)] = Seq(
    (200L, goodText(5), "https://site.com/e"),
    // near-dup of batch-1's 104 (one appended token, shingle overlap
    // ~0.95) → needs the FOLDED MinHash index
    (201L, goodText(4) + " trailingnovelty", "https://site.com/f"),
    // URL dup of batch-1's 102 address → needs the FOLDED keepers
    (202L, goodText(6), "https://site.com/pii?utm_source=x"),
    // exact text dup of batch-1's 100 under a fresh URL → pairs at 1.0
    (203L, goodText(1), "https://site.com/g"),
    (204L, junkText, "https://site.com/junk2"))

  // day-0 seed corpus the stores are initialized from — addresses and
  // texts disjoint from every arrival, so the batch twin over the
  // arrivals alone stays exact (seed docs are index state, not release
  // docs; an empty init is not writable for the partitioned band table)
  private def seed: Seq[(Long, String, String)] = Seq(
    (1L, goodText(90), "https://seed.org/1"),
    (2L, goodText(91), "https://seed.org/2"))

  private def freshStores(): (String, String, String, String) = {
    val tmp = tempDir("graft_crawl")
    val (u, g, d, r) = (s"$tmp/url", s"$tmp/gate", s"$tmp/dedup", s"$tmp/rel")
    UrlQueries.initStoredUrlIndex(spark, u, docsDf(seed).select("doc_id", "url"))
    DedupQueries.initStoredIndex(spark, d, docsDf(seed).select("doc_id", "text"))
    (u, g, d, r)
  }

  private def docsDf(rows: Seq[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "url")
  }

  private def relRows(df: DataFrame): Seq[(Long, String, String)] =
    df.select("doc_id", "text", "split").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq

  /** The one-shot BATCH composition over the concatenated arrivals —
    * the standalone stage operators, in the lifecycle's order. */
  private def batchTwin(all: DataFrame): Seq[(Long, String, String)] = {
    val urlKept = UrlQueries.urlCanonOf(all).drop("url")
    val gated = GateIngest.gateFrame(urlKept, minQuality = 0.25)
      .filter(col("kept"))
      .withColumn("text", col("redacted"))
      .select(col("doc_id"), col("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val pairs = DedupQueries.minHashPairs(gated, bands = 4, threshold = 0.5)
    val dropped = pairs.select(col("b").as("doc_id")).distinct()
    relRows(gated.join(dropped, Seq("doc_id"), "left_anti")
      .withColumn("split", SampleQueries.splitCol))
  }

  test("streamed front-door equals the one-shot batch composition; every stage fires") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (u, g, d, r) = freshStores()
    val src = MemoryStream[(Long, String, String)]
    val manifests = scala.collection.mutable.SortedMap[Long, Long]()
    val q = CrawlIngest.crawlIngest(
        src.toDF().toDF("doc_id", "text", "url"), u, g, d, r,
        onManifest = (m, batchId) => manifests(batchId) = m.count())
      .queryName("crawl_ingest").start()
    try {
      src.addData(b1)
      q.processAllAvailable()
      src.addData(b2)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = relRows(IncrementalRelease.readCurrent(spark, r))
    val twin = batchTwin(docsDf(b1 ++ b2))
    assert(streamed == twin,
      s"streamed release must equal the batch twin\n$streamed\nvs\n$twin")
    // every composed stage dropped its planted doc:
    val ids = streamed.map(_._1).toSet
    assert(ids == Set(100L, 102L, 104L, 200L),
      s"expected {100,102,104,200}, got $ids")
    // the PII doc shipped SCRUBBED
    val pii = streamed.find(_._1 == 102L).get._2
    assert(pii.contains("[EMAIL]") && !pii.contains("jane.doe@example.com"),
      "released text must be the scrubbed text")
    // two manifests (one per batch), release grew append-only
    assert(manifests.keySet == Set(0L, 1L))
    assert(IncrementalRelease.versions(spark, r).size == 2)
    // the gate audit holds exactly one row per batch
    val audit = GateIngest.auditTableOf(spark, g)
      .select("batch_id", "n_in", "n_kept").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted.toSeq
    assert(audit == Seq((0L, 4L, 3L), (1L, 4L, 3L)),
      s"audit rows wrong: $audit") // per batch: 1 URL-dropped, 1 junk
  }

  test("crash BETWEEN stage folds replays to convergence across all four stores") {
    val (u, g, d, r) = freshStores()
    val prefix = StreamIdentity.prefixOf("crawlspec-crash")
    def run(batch: DataFrame, batchId: Long,
            failPairs: Boolean = false, failManifest: Boolean = false): Unit =
      CrawlIngest.ingestCrawlBatch(spark, u, g, d, r, batch, prefix, batchId,
        onPairs = (_, _) => if (failPairs) sys.error("crash before dedup fold"),
        onManifest = (_, _) => if (failManifest) sys.error("crash after release commit"))
    run(docsDf(b1), 0L)
    // crash attempt 1: URL fold + audit committed, dedup fold and
    // release NOT (onPairs fires before the index append)
    intercept[RuntimeException] { run(docsDf(b2), 1L, failPairs = true) }
    // crash attempt 2: everything committed INCLUDING the release
    // version and its batch stamp — only the notification was lost
    intercept[RuntimeException] { run(docsDf(b2), 1L, failManifest = true) }
    // the replay converges
    run(docsDf(b2), 1L)

    val streamed = relRows(IncrementalRelease.readCurrent(spark, r))
    assert(streamed == batchTwin(docsDf(b1 ++ b2)),
      "post-replay release must equal the batch twin")
    // no store double-folded: keeper rows, dedup ids and audit rows are
    // exactly the no-crash counts
    // distinct canonical addresses: 2 seed + batch 1 {a, junk1, pii, d}
    // + batch 2 {e, f, g, junk2} — 103/202 are dups, not keys
    val keepers = IndexStore.readSwappable(spark, u, "keepers").count()
    assert(keepers == 10L, s"keepers: $keepers")
    val dedupIds = IndexStore.readSwappable(spark, d, "ids")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(dedupIds == Seq(1L, 2L, 100L, 102L, 104L, 200L, 201L, 203L),
      s"dedup index must hold the seed + every gate survivor exactly once: $dedupIds")
    val audit = GateIngest.auditTableOf(spark, g).groupBy("batch_id").count()
      .collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(audit == Seq((0L, 1L), (1L, 1L)),
      s"exactly one audit row per batch: $audit")
    // the interrupted attempts minted exactly ONE release version for
    // batch 1 (the failManifest attempt committed it; the replay no-ops)
    assert(IncrementalRelease.versions(spark, r).size == 2)
  }

  test("rewound checkpoint fail-stops before touching any store") {
    val (u, g, d, r) = freshStores()
    val prefix = StreamIdentity.prefixOf("crawlspec-rewind")
    CrawlIngest.ingestCrawlBatch(spark, u, g, d, r, docsDf(b1), prefix, 0L)
    CrawlIngest.ingestCrawlBatch(spark, u, g, d, r, docsDf(b2), prefix, 1L)
    val before = relRows(IncrementalRelease.readCurrent(spark, r))
    val e = intercept[IllegalArgumentException] {
      CrawlIngest.ingestCrawlBatch(spark, u, g, d, r, docsDf(b1), prefix, 0L)
    }
    assert(e.getMessage.contains("rewound"), e.getMessage)
    assert(relRows(IncrementalRelease.readCurrent(spark, r)) == before)
  }
}
