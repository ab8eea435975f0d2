package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends AnyFunSuite with SparkTestSession {

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  test("watermarked tumbling-window counts over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[Event]
    val q = EventStreams.windowedCounts(src.toDF())
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Update()).start()
    try {
      src.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(3), 1, "click", 2.0),
        Event(3, ts(12), 2, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts").collect()
      assert(rows.length == 2)
      val clicks = rows.find(_.getString(1) == "click").get
      assert(clicks.getLong(2) == 2 && clicks.getDouble(3) == 3.0)
    } finally q.stop()
  }

  test("stateful sessionization counts sessions across gaps") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[Event]
    val q = EventStreams.sessionize(src.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update()).start()
    try {
      // user 1: two events 5 min apart (1 session), then a 60-min gap (2nd session)
      src.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(5), 1, "click", 1.0),
        Event(3, ts(70), 1, "click", 1.0),
        Event(4, ts(0), 2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows(1L) == (2L, 3L), s"user 1: $rows")
      assert(rows(2L) == (1L, 1L))
    } finally q.stop()
  }

  test("native session windows split on the 30-minute gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[Event]
    val q = EventStreams.sessionWindows(src.toDF())
      .writeStream.format("memory").queryName("session_windows")
      .outputMode(OutputMode.Complete()).start()
    try {
      src.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(10), 1, "click", 2.0),
        Event(3, ts(70), 1, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("session_windows").collect()
      assert(rows.length == 2, rows.mkString(";"))
      assert(rows.map(_.getLong(3)).sorted.sameElements(Array(1L, 2L)))
    } finally q.stop()
  }

  test("streaming dedup drops redelivered event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[Event]
    val q = EventStreams.dedupEvents(src.toDF())
      .writeStream.format("memory").queryName("dedup_events")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 1, "click", 2.0),
        Event(1, ts(0), 1, "click", 1.0)) // duplicate delivery, same batch
      q.processAllAvailable()
      src.addData(Event(2, ts(2), 1, "click", 2.0)) // duplicate, later batch
      q.processAllAvailable()
      val ids = spark.table("dedup_events").collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 2L)), ids.mkString(","))
    } finally q.stop()
  }

  test("stream-static enrichment joins dim attributes without state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[Event]
    val dim = Seq((1L, "premium"), (2L, "free")).toDF("userId", "segment")
    val q = EventStreams.enrichEvents(src.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 2, "view", 2.0),
        Event(3, ts(2), 3, "click", 3.0)) // no dim row -> left join null
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => r.getAs[Long]("eventId") -> r.getAs[String]("segment")).toMap
      assert(rows == Map(1L -> "premium", 2L -> "free", 3L -> null))
    } finally q.stop()
  }

  test("stream-stream interval join matches clicks inside the attribution window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val impressions = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = EventStreams.intervalJoin(impressions.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("attributed")
      .outputMode(OutputMode.Append()).start()
    try {
      impressions.addData(
        Event(10, ts(0), 1, "impression", 0.0),
        Event(11, ts(0), 2, "impression", 0.0))
      clicks.addData(
        Event(20, ts(5), 1, "click", 1.0),   // in window -> match
        Event(21, ts(40), 1, "click", 1.0),  // 40 min > 15-min window -> no match
        Event(22, ts(3), 3, "click", 1.0))   // no impression for user 3
      q.processAllAvailable()
      val rows = spark.table("attributed").collect()
        .map(r => (r.getAs[Long]("impressionId"), r.getAs[Long]("clickId")))
      assert(rows.toSet == Set((10L, 20L)), rows.mkString(","))
    } finally q.stop()
  }

  test("left-outer interval join emits the unmatched impression exactly once, only after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val impressions = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = EventStreams.intervalJoinLeftOuter(impressions.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("attributed_outer")
      .outputMode(OutputMode.Append()).start()
    try {
      impressions.addData(
        Event(10, ts(0), 1, "impression", 0.0),  // matched inside the window
        Event(11, ts(0), 2, "impression", 0.0))  // never clicked
      clicks.addData(Event(20, ts(5), 1, "click", 1.0))
      q.processAllAvailable()
      val early = spark.table("attributed_outer").collect()
        .map(r => (r.getAs[Long]("impressionId"), r.getAs[Any]("clickId")))
      assert(early.toSet == Set((10L, 20L)),
        s"unmatched row must NOT be emitted before the watermark passes: ${early.mkString(",")}")
      // advance BOTH input watermarks past impression 11's window end —
      // outer emission is driven by the GLOBAL minimum watermark — then
      // run further micro-batches so the eviction pass fires
      impressions.addData(Event(90, ts(120), 98, "impression", 0.0))
      clicks.addData(Event(91, ts(120), 99, "click", 1.0))
      q.processAllAvailable()
      impressions.addData(Event(92, ts(125), 98, "impression", 0.0))
      clicks.addData(Event(93, ts(125), 99, "click", 1.0))
      q.processAllAvailable()
      val unmatched = spark.table("attributed_outer").collect()
        .filter(_.getAs[Long]("impressionId") == 11L)
      assert(unmatched.length == 1,
        s"unmatched impression must appear exactly once, got ${unmatched.length}")
      assert(unmatched.head.isNullAt(unmatched.head.fieldIndex("clickId")))
      assert(unmatched.head.isNullAt(unmatched.head.fieldIndex("clickTs")))
      // the matched pair is still present exactly once (inner semantics)
      assert(spark.table("attributed_outer").collect()
        .count(_.getAs[Long]("impressionId") == 10L) == 1)
    } finally q.stop()
  }

  test("full-outer interval join surfaces the orphan click as well as the unmatched impression") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val impressions = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = EventStreams.intervalJoinFullOuter(impressions.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("attributed_full")
      .outputMode(OutputMode.Append()).start()
    try {
      impressions.addData(Event(10, ts(0), 1, "impression", 0.0)) // never clicked
      clicks.addData(Event(20, ts(0), 2, "click", 1.0))           // no impression
      q.processAllAvailable()
      // advance the global watermark past both windows, then flush
      impressions.addData(Event(90, ts(120), 98, "impression", 0.0))
      clicks.addData(Event(91, ts(120), 99, "click", 1.0))
      q.processAllAvailable()
      impressions.addData(Event(92, ts(125), 98, "impression", 0.0))
      clicks.addData(Event(93, ts(125), 99, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("attributed_full").collect()
      val nullClick = rows.filter(r => !r.isNullAt(r.fieldIndex("impressionId")) &&
        r.getAs[Long]("impressionId") == 10L)
      assert(nullClick.length == 1 && nullClick.head.isNullAt(nullClick.head.fieldIndex("clickId")))
      val orphanClick = rows.filter(r => !r.isNullAt(r.fieldIndex("clickId")) &&
        r.getAs[Long]("clickId") == 20L)
      assert(orphanClick.length == 1 &&
        orphanClick.head.isNullAt(orphanClick.head.fieldIndex("impressionId")))
      // the orphan click's user is known from the click side — the
      // reconciliation row must carry it, not a null
      assert(orphanClick.head.getAs[Long]("userId") == 2L)
    } finally q.stop()
  }

  test("streaming logic matches batch execution of the same transform") {
    import spark.implicits._
    val batch = Seq(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(3), 1, "click", 2.0),
      Event(3, ts(12), 2, "view", 5.0)).toDF()
    val out = EventStreams.windowedCounts(batch).collect()
    assert(out.map(_.getLong(2)).sum == 3)
  }

  test("streaming dedup ingest: each micro-batch probes the stored index then folds in") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.DedupQueries
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir).select("doc_id", "text")
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String)].collect().toSeq
    def pairRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSeq

    // index the initial corpus snapshot (ids >= 100)
    val path = tempDir("graft_stream_idx") + "/minhash"
    DedupQueries.initStoredIndex(spark, path, docs.filter(col("doc_id") >= 100))

    // stream two document micro-batches: ids 50..99, then 25..49
    val src = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.SortedMap[Long, Seq[(Long, Long, Double)]]()
    val q = graft.streaming.DedupIngest.dedupIngest(
        src.toDF().toDF("doc_id", "text"), path,
        (pairs, batchId) => emitted(batchId) = pairRows(pairs))
      .queryName("dedup_ingest").start()
    try {
      src.addData(tuples(docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)))
      q.processAllAvailable()
      src.addData(tuples(docs.filter(col("doc_id") >= 25 && col("doc_id") < 50)))
      q.processAllAvailable()
    } finally q.stop()

    // every pair touching the streamed docs is emitted EXACTLY once
    // across batches (a pair appears when its later doc arrives), so
    // the union must equal one batch incremental run over the same
    // corpus/increment split — regardless of micro-batch boundaries
    val got = emitted.values.flatten.toSeq.sorted
    val want = pairRows(DedupQueries.minHashPairsIncremental(
      docs.filter(col("doc_id") >= 100),
      docs.filter(col("doc_id") >= 25 && col("doc_id") < 100))).sorted
    assert(got == want, "streamed pair union must equal the batch incremental run")
    assert(got.nonEmpty, "fixture produced no streamed pairs — test is vacuous")
    assert(emitted.size >= 2, "expected at least two micro-batches")
    // the folded index state is exactly what a batch maintainer would
    // have: a held-out increment probes identically to a fresh
    // incremental run over everything already ingested
    val heldOut = pairRows(DedupQueries.probeStoredIndex(
      spark, path, docs.filter(col("doc_id") < 25)))
    assert(heldOut == pairRows(DedupQueries.minHashPairsIncremental(
      docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25))))

    // crash/replay CONVERGES (the r13 exactly-once contract): replaying
    // the last batch's tagged append — what a foreachBatch restart does
    // after a crash between append and checkpoint commit — leaves the
    // index identical, proven by the held-out probe. A replay runs under
    // the SAME incarnation (same checkpointed query id → same tag).
    val tag1 = graft.streaming.StreamIdentity.batchTag(
      graft.streaming.StreamIdentity.prefixOf(q.id.toString), 1)
    val b2 = docs.filter(col("doc_id") >= 25 && col("doc_id") < 50)
    DedupQueries.appendStoredIndexTagged(spark, path, b2, tag1)
    def heldOutNow() = pairRows(DedupQueries.probeStoredIndex(
      spark, path, docs.filter(col("doc_id") < 25)))
    assert(heldOutNow() == heldOut, "full replay must leave the index unchanged")
    // mid-append crash: one of the batch's published sig files gone,
    // stage litter left behind — the batch-start sweep + re-append heal
    val sigDir = new java.io.File(
      graft.sources.IndexStore.tableDataPath(spark, path, "sig"))
    val tagFiles = sigDir.listFiles().filter(_.getName.startsWith(s"graft-$tag1-"))
    assert(tagFiles.nonEmpty, "tagged append must publish deterministic names")
    tagFiles.foreach(_.delete())
    spark.range(1).write.parquet(s"$path/sig__stage_$tag1")
    DedupQueries.sweepStreamBatch(spark, path, tag1) // the ingest's batch start
    DedupQueries.appendStoredIndexTagged(spark, path, b2, tag1)
    assert(heldOutNow() == heldOut, "replay after a mid-append crash must converge")
    // a GENUINE duplicate (different tag re-sending the same ids) still
    // fail-stops — replay safety never weakens the disjointness gate
    val ex = intercept[IllegalArgumentException] {
      DedupQueries.appendStoredIndexTagged(spark, path, b2, "stream_99")
    }
    assert(ex.getMessage.contains("disjoint"))
  }

  test("streaming substring ingest: each micro-batch probes the stored counts then folds in") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.DedupQueries
    val k = 50
    def uniq(tag: String, n: Int) = (1 to n).map(i => s"$tag$i")
    val shared = (1 to 60).map(i => s"s$i")
    val shared2 = (1 to 55).map(i => s"z$i")
    // corpus holds `shared`; batch 1 re-uses it (cross corpus/batch
    // dup) and introduces `shared2` ONCE (no dup yet); batch 2 re-uses
    // `shared2` — a dup that exists only against the FOLDED batch 1,
    // the property a probe that missed the appended counts would lose
    val corpusDf = Seq(
      (100L, (uniq("a", 10) ++ shared ++ uniq("b", 10)).mkString(" ")),
      (101L, uniq("c", 70).mkString(" "))).toDF("doc_id", "text")
    val b1 = Seq(
      (1L, (uniq("d", 5) ++ shared ++ uniq("e", 5)).mkString(" ")),
      (2L, (uniq("f", 6) ++ shared2 ++ uniq("g", 4)).mkString(" ")))
    val b2 = Seq(
      (11L, (uniq("j", 8) ++ shared2 ++ uniq("l", 2)).mkString(" ")),
      (12L, uniq("m", 60).mkString(" ")))
    def spanRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sorted
    def fullRestricted(all: org.apache.spark.sql.DataFrame, ids: Set[Long]) =
      spanRows(DedupQueries.dupSubstringsOf(all, k)).filter(r => ids(r._1))

    val path = tempDir("graft_stream_substr") + "/idx"
    DedupQueries.initStoredSubstrIndex(spark, path, corpusDf, k)

    val src = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.SortedMap[Long, Seq[(Long, Long, Long, Long, Long)]]()
    val q = graft.streaming.SubstrIngest.substrIngest(
        src.toDF().toDF("doc_id", "text"), path,
        (spans, batchId) => emitted(batchId) = spanRows(spans), k)
      .queryName("substr_ingest").start()
    val b1df = b1.toDF("doc_id", "text")
    val b2df = b2.toDF("doc_id", "text")
    try {
      src.addData(b1)
      q.processAllAvailable()
      src.addData(b2)
      q.processAllAvailable()
    } finally q.stop()

    // batch-twin equality per micro-batch: each emission equals the
    // FULL d12 run over everything accumulated, restricted to the batch
    assert(emitted.keySet == Set(0L, 1L))
    assert(emitted(0L) == fullRestricted(corpusDf.unionByName(b1df), Set(1L, 2L)))
    assert(emitted(0L).map(_._1).toSet == Set(1L),
      "batch 1: doc 1 dups vs corpus; doc 2's run is first-seen (clean)")
    assert(emitted(1L) == fullRestricted(
      corpusDf.unionByName(b1df).unionByName(b2df), Set(11L, 12L)))
    assert(emitted(1L).map(_._1).toSet == Set(11L),
      "batch 2: doc 11 dups ONLY against folded batch 1; doc 12 clean")

    // the folded index state equals a batch maintainer's: a held-out
    // batch probes identically to the full run over everything ingested
    val heldOutDf = Seq((21L, (uniq("p", 4) ++ shared ++ uniq("r", 6))
      .mkString(" "))).toDF("doc_id", "text")
    def heldOutNow() = spanRows(
      DedupQueries.probeStoredSubstrIndex(spark, path, heldOutDf, k))
    val heldOut = heldOutNow()
    assert(heldOut == fullRestricted(
      corpusDf.unionByName(b1df).unionByName(b2df).unionByName(heldOutDf),
      Set(21L)) && heldOut.nonEmpty)

    // crash/replay converges: replaying the last batch's tagged append
    // (a foreachBatch restart after a crash between append and
    // checkpoint commit) leaves the index identical — same incarnation,
    // same checkpointed query id, same tag
    val tag1 = graft.streaming.StreamIdentity.batchTag(
      graft.streaming.StreamIdentity.prefixOf(q.id.toString), 1)
    DedupQueries.appendStoredSubstrIndexTagged(spark, path, b2df, tag1, k)
    assert(heldOutNow() == heldOut, "full replay must leave the index unchanged")
    // mid-append crash: a published counts file gone, stage litter left
    // — the batch-start sweep + re-append heal
    val cntDir = new java.io.File(
      graft.sources.IndexStore.tableDataPath(spark, path, "counts"))
    val tagFiles = cntDir.listFiles().filter(_.getName.startsWith(s"graft-$tag1-"))
    assert(tagFiles.nonEmpty, "tagged append must publish deterministic names")
    tagFiles.foreach(_.delete())
    spark.range(1).write.parquet(s"$path/counts__stage_$tag1")
    DedupQueries.sweepSubstrStreamBatch(spark, path, tag1)
    DedupQueries.appendStoredSubstrIndexTagged(spark, path, b2df, tag1, k)
    assert(heldOutNow() == heldOut, "replay after a mid-append crash must converge")
    // a GENUINE duplicate (different tag re-sending the same ids) still
    // fail-stops — replay safety never weakens the disjointness gate
    val ex = intercept[IllegalArgumentException] {
      DedupQueries.appendStoredSubstrIndexTagged(spark, path, b2df, "stream_99", k)
    }
    assert(ex.getMessage.contains("disjoint"))
  }

  test("streaming span scrub ingest: each micro-batch is rewritten against corpus ∪ batch, then folds in") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.DedupQueries
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir).select("doc_id", "text")
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String)].collect().toSeq
    def scrubRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq

    // index the initial corpus snapshot (ids >= 100)
    val path = tempDir("graft_stream_span") + "/spans"
    DedupQueries.initStoredSpanIndex(spark, path, docs.filter(col("doc_id") >= 100))

    // stream two micro-batches: ids 50..99, then 25..49
    val src = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.SortedMap[Long, Seq[(Long, Long, Long, String)]]()
    val q = graft.streaming.SpanScrubIngest.spanScrubIngest(
        src.toDF().toDF("doc_id", "text"), path,
        (scrubbed, batchId) => emitted(batchId) = scrubRows(scrubbed))
      .queryName("span_scrub_ingest").start()
    try {
      src.addData(tuples(docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)))
      q.processAllAvailable()
      src.addData(tuples(docs.filter(col("doc_id") >= 25 && col("doc_id") < 50)))
      q.processAllAvailable()
    } finally q.stop()

    // batch-twin equality: each batch's rewrite equals full d9 over
    // (everything ingested so far ∪ batch) RESTRICTED to the batch
    assert(emitted.size == 2, s"expected two micro-batches, got ${emitted.keySet}")
    val batches = emitted.values.toSeq
    val want1 = scrubRows(DedupQueries.spanScrubFrame(
        docs.filter(col("doc_id") >= 50))
      .filter(col("doc_id") < 100))
    assert(batches(0) == want1,
      "batch 1 rewrite must equal d9 over corpus ∪ batch restricted to the batch")
    val want2 = scrubRows(DedupQueries.spanScrubFrame(
        docs.filter(col("doc_id") >= 25))
      .filter(col("doc_id") < 50))
    assert(batches(1) == want2,
      "batch 2 rewrite must see batch-1 docs as corpus")
    assert(batches(0).nonEmpty && batches(1).nonEmpty)
    // the rewrites are non-trivial: some streamed doc actually lost
    // tokens to a cross-document duplicated passage
    assert(batches.flatten.exists { case (_, nTok, nKept, _) => nKept < nTok },
      "no passage was scrubbed — fixture is vacuous")
    // crash/replay CONVERGES: re-running the last batch's tagged append
    // leaves the span counts identical — a held-out batch scrubs the
    // same either way (double-counted spans would turn unique batch
    // spans into "duplicates" here)
    val heldOut = () => scrubRows(DedupQueries.probeSpanScrub(
      spark, path, docs.filter(col("doc_id") < 25)))
    val before = heldOut()
    DedupQueries.appendStoredSpanIndexTagged(spark, path,
      docs.filter(col("doc_id") >= 25 && col("doc_id") < 50),
      graft.streaming.StreamIdentity.batchTag(
        graft.streaming.StreamIdentity.prefixOf(q.id.toString), 1))
    assert(heldOut() == before, "span-index replay must converge, not double-count")
    // a genuine duplicate under a fresh tag still fail-stops
    val ex = intercept[IllegalArgumentException] {
      DedupQueries.appendStoredSpanIndexTagged(spark, path,
        docs.filter(col("doc_id") >= 50 && col("doc_id") < 100), "stream_99")
    }
    assert(ex.getMessage.contains("disjoint"))
  }

  test("streaming embedding ingest: arrivals match the catalog, then join it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.VectorQueries
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    def vecs(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[Double])].collect().toSeq
    def nbRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    // the streamed index and a batch-maintained twin start from the
    // same catalog snapshot (ids >= 300)
    val base = tempDir("graft_stream_pq")
    val (path, twin) = (base + "/pq", base + "/pq_twin")
    for (p <- Seq(path, twin))
      VectorQueries.initStoredPqIndex(spark, p, emb.filter(col("vec_id") >= 300))

    val batch1 = emb.filter(col("vec_id") >= 150 && col("vec_id") < 300)
    val batch2 = emb.filter(col("vec_id") < 150)
    val src = MemoryStream[(Long, Seq[Double])]
    val emitted = scala.collection.mutable.SortedMap[Long, Seq[(Long, Long, Long)]]()
    val q = graft.streaming.EmbedIngest.annIngest(
        src.toDF().toDF("vec_id", "embedding"), path,
        (nbs, batchId) => emitted(batchId) = nbRows(nbs))
      .queryName("embed_ingest").start()
    try {
      src.addData(vecs(batch1)); q.processAllAvailable()
      src.addData(vecs(batch2)); q.processAllAvailable()
    } finally q.stop()
    assert(emitted.size == 2, s"expected two micro-batches, got ${emitted.keySet}")

    // each batch's emitted matches equal the batch-lifecycle twin's
    // probe at the same point in the day-over-day loop
    def twinIdx() = VectorQueries.readStoredPqIndex(spark, twin)
    def probe(b: org.apache.spark.sql.DataFrame) = nbRows(VectorQueries.adcProbe(
      spark, twinIdx(), b.select(col("vec_id").as("q"), col("embedding").as("qe"))))
    val want1 = probe(batch1)
    VectorQueries.appendStoredPqIndex(spark, twin, batch1)
    val want2 = probe(batch2)
    VectorQueries.appendStoredPqIndex(spark, twin, batch2)
    assert(emitted.values.head == want1 && emitted.values.last == want2)
    assert(want1.nonEmpty && want2.nonEmpty, "fixture produced no matches — vacuous")

    // the folded index is the twin: same codes, same probe results
    assert(VectorQueries.readStoredPqIndex(spark, path).codes.count() == emb.count())
    val probes = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q"), col("embedding").as("qe"))
    def pathProbe() = nbRows(VectorQueries.adcProbe(
      spark, VectorQueries.readStoredPqIndex(spark, path), probes))
    val twinProbe = nbRows(VectorQueries.adcProbe(spark, twinIdx(), probes))
    assert(pathProbe() == twinProbe)

    // crash/replay CONVERGES: replaying the last batch's tagged append
    // (frozen books re-encode the same vectors) reproduces the probe
    VectorQueries.appendStoredPqIndexTagged(spark, path, batch2,
      graft.streaming.StreamIdentity.batchTag(
        graft.streaming.StreamIdentity.prefixOf(q.id.toString), 1))
    assert(pathProbe() == twinProbe, "PQ replay must converge to the twin")
    assert(VectorQueries.readStoredPqIndex(spark, path).codes.count() == emb.count(),
      "replay must not duplicate codes")
    // a genuine duplicate vec_id under a fresh tag still fail-stops
    val ex = intercept[IllegalArgumentException] {
      VectorQueries.appendStoredPqIndexTagged(spark, path, batch2, "stream_99")
    }
    assert(ex.getMessage.contains("disjoint"))
  }

  test("streaming scrub ingest: arrivals are flagged against the stored eval index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.ContaminationQueries
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir).select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq

    // index the benchmark set (the x2 eval predicate)
    val path = tempDir("graft_scrub_idx") + "/evalgrams"
    ContaminationQueries.initStoredEvalIndex(
      spark, path, docs.filter(col("doc_id") % 37 === 0))

    // stream the train docs in two micro-batches
    val train = docs.filter(col("doc_id") % 37 =!= 0)
    val src = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.SortedMap[Long, Seq[(Long, Long, Long, Double)]]()
    val q = graft.streaming.ScrubIngest.scrubIngest(
        src.toDF().toDF("doc_id", "text"), path,
        (flagged, batchId) => emitted(batchId) = rows(flagged))
      .queryName("scrub_ingest").start()
    try {
      src.addData(train.filter(col("doc_id") < 250).as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
      src.addData(train.filter(col("doc_id") >= 250).as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // per-doc flags depend only on that doc's grams vs the fixed eval
    // set, so the union across batches must equal the batch scrub over
    // the full corpus — regardless of micro-batch boundaries
    val got = emitted.values.flatten.toSeq.sortBy(_._1)
    val want = rows(ContaminationQueries.bloomScrub(spark, dir)).sortBy(_._1)
    assert(got == want, "streamed flag union must equal the batch scrub")
    assert(got.nonEmpty, "fixture produced no flagged docs — test is vacuous")
    assert(emitted.size >= 2, "expected at least two micro-batches")

    // geometry mismatch fails loudly, never an empty probe
    val err = intercept[IllegalArgumentException] {
      ContaminationQueries.probeStoredEvalIndex(spark, path,
        train.limit(5), n = 5)
    }
    assert(err.getMessage.contains("geometry"))
  }

  test("streaming sketch ingest: micro-batches fold into the stored monthly sketch table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, year}
    import graft.operators.OlapQueries
    val dir = "/root/testdata/sf0.001"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"))
    def rollupRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("yr", "qtr").collect().map(_.toSeq).toSeq

    // streamed table and batch twin start from the same history snapshot
    val base = tempDir("graft_stream_sk")
    val (path, twin) = (base + "/hll", base + "/hll_twin")
    val snapshot = orders.filter(year(col("o_orderdate")) <= 1996)
    val batch1 = orders.filter(year(col("o_orderdate")) === 1997)
    val batch2 = orders.filter(year(col("o_orderdate")) >= 1998)
    for (p <- Seq(path, twin)) OlapQueries.initSketchTable(spark, p, snapshot)

    val src = MemoryStream[(Long, java.time.LocalDateTime)]
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, java.time.LocalDateTime)].collect().toSeq
    val emitted = scala.collection.mutable.SortedMap[Long, Seq[Seq[Any]]]()
    val q = graft.streaming.SketchIngest.sketchIngest(
        src.toDF().toDF("o_custkey", "o_orderdate"), path,
        (rollup, batchId) => emitted(batchId) = rollupRows(rollup))
      .queryName("sketch_ingest").start()
    try {
      src.addData(tuples(batch1)); q.processAllAvailable()
      src.addData(tuples(batch2)); q.processAllAvailable()
    } finally q.stop()
    assert(emitted.size == 2, s"expected two micro-batches, got ${emitted.keySet}")

    // each emitted rollup equals the batch-lifecycle twin at the same
    // point in the append sequence (same batch layout -> identical
    // register state -> identical estimates)
    OlapQueries.appendSketchTable(spark, twin, batch1, "stream_0")
    val want1 = rollupRows(OlapQueries.quarterlyRollup(spark, twin))
    OlapQueries.appendSketchTable(spark, twin, batch2, "stream_1")
    val want2 = rollupRows(OlapQueries.quarterlyRollup(spark, twin))
    assert(emitted.values.head == want1 && emitted.values.last == want2)
    assert(want1.nonEmpty && want2 != want1,
      "fixture batches did not change the rollup — test is vacuous")

    // a replayed batch (crash between append and checkpoint commit)
    // CONVERGES: foreachBatch re-delivers the same rows under the same
    // batchId — and under the SAME incarnation tag (checkpointed query
    // id) — and the replay-safe append sweeps its previous attempt's
    // files before re-publishing — the table equals the batch twin, no
    // double count, no manual healing (the r12 crash window, closed)
    val prefix = graft.streaming.StreamIdentity.prefixOf(q.id.toString)
    val (tag0, tag1) = (graft.streaming.StreamIdentity.batchTag(prefix, 0),
      graft.streaming.StreamIdentity.batchTag(prefix, 1))
    OlapQueries.appendSketchTableReplayable(spark, path, batch1, tag0)
    assert(rollupRows(OlapQueries.quarterlyRollup(spark, path)) == want2,
      "a full replay must leave the table unchanged")

    // crash MID-append: a leftover staging dir and a swept publish file
    // (the partial job-commit state a plain append cannot heal) — the
    // replay converges from there too
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val monthsDir = graft.sources.IndexStore.tableDataPath(spark, path, "months")
    val published = fs.globStatus(
      new org.apache.hadoop.fs.Path(monthsDir, s"graft-$tag1-*.parquet"))
    assert(published.nonEmpty, "replayable appends must publish deterministic names")
    published.foreach(st => fs.delete(st.getPath, false)) // crash before the move
    spark.range(1).write.parquet(s"$path/months__stage_$tag1") // crashed stage litter
    OlapQueries.appendSketchTableReplayable(spark, path, batch2, tag1)
    assert(rollupRows(OlapQueries.quarterlyRollup(spark, path)) == want2,
      "replay after a mid-append crash must converge to the batch twin")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/months__stage_$tag1")),
      "the replay must sweep crashed staging state")

    // the BATCH API keeps its fail-stop gate: a reused tag there is a
    // scheduler bug, not a checkpoint replay
    val err = intercept[IllegalArgumentException] {
      OlapQueries.appendSketchTable(spark, twin, batch1, "stream_0")
    }
    assert(err.getMessage.contains("already appended"))

    // an absorbed tag (compaction ran against the quiesced stream, then
    // the tag replays) is skipped — never re-appended, never a stall
    OlapQueries.compactSketchTable(spark, path)
    val afterCompact = rollupRows(OlapQueries.quarterlyRollup(spark, path))
    OlapQueries.appendSketchTableReplayable(spark, path, batch1, tag0)
    assert(rollupRows(OlapQueries.quarterlyRollup(spark, path)) == afterCompact,
      "an absorbed tag's replay must be a no-op")
  }

  test("stream incarnation tags: a fresh checkpoint cannot sweep a prior incarnation, a rewound one fail-stops") {
    import org.apache.spark.sql.functions.col
    import graft.operators.DedupQueries
    import graft.streaming.StreamIdentity
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val path = tempDir("graft_incarnation") + "/minhash"
    DedupQueries.initStoredIndex(spark, path, docs.filter(col("doc_id") >= 100))

    // incarnation A commits its batch 0 (what the old un-namespaced
    // scheme tagged "stream_0" — the r17 advice bug: incarnation B's
    // batch-0 sweep would delete these committed rows before probing,
    // silently un-ingesting them AND disarming the disjointness gate)
    val aPrefix = StreamIdentity.prefixOf("incarnation-a")
    val b0 = docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
    DedupQueries.appendStoredIndexTagged(
      spark, path, b0, StreamIdentity.batchTag(aPrefix, 0))

    // incarnation B (fresh checkpoint → batchId restarts at 0, fresh
    // query id → fresh namespace): its batch-0 sweep touches nothing of
    // A, so re-sending A's doc_ids fail-stops at the disjointness gate
    val bPrefix = StreamIdentity.prefixOf("incarnation-b")
    val bTag0 = StreamIdentity.batchTag(bPrefix, 0)
    graft.sources.IndexStore.requireMonotonicBatch(
      spark, path, Seq("ids", "sig", "bands"), bPrefix, 0) // B is not rewound
    DedupQueries.sweepStreamBatch(spark, path, bTag0)
    val ex = intercept[IllegalArgumentException] {
      DedupQueries.appendStoredIndexTagged(spark, path, b0, bTag0)
    }
    assert(ex.getMessage.contains("disjoint"),
      "a fresh incarnation re-sending ingested ids must fail-stop loudly")
    // ...and A's committed batch is still fully present (nothing swept)
    val sigDir = new java.io.File(
      graft.sources.IndexStore.tableDataPath(spark, path, "sig"))
    assert(sigDir.listFiles().exists(
      _.getName.startsWith(s"graft-${StreamIdentity.batchTag(aPrefix, 0)}-")),
      "incarnation A's committed batch-0 files must survive B's batch 0")

    // REWOUND incarnation (same query id, offsets hand-deleted): A
    // presenting batch 0 again after committing batch 1 is not a replay
    // — a genuine replay can only be of the LATEST batch
    DedupQueries.appendStoredIndexTagged(spark, path,
      docs.filter(col("doc_id") >= 25 && col("doc_id") < 50),
      StreamIdentity.batchTag(aPrefix, 1))
    graft.sources.IndexStore.requireMonotonicBatch(
      spark, path, Seq("ids", "sig", "bands"), aPrefix, 1) // replay of 1: fine
    val rewound = intercept[IllegalArgumentException] {
      graft.sources.IndexStore.requireMonotonicBatch(
        spark, path, Seq("ids", "sig", "bands"), aPrefix, 0)
    }
    assert(rewound.getMessage.contains("rewound"))

    // prefix derivation: the raw-id hash suffix is UNCONDITIONAL, so
    // distinct ids can never share a namespace — not "job 1" vs
    // "job1" (sanitize collision), and not a safe id crafted as
    // '<x>-<hex>' vs an unsafe id sanitizing to '<x>' (cross-branch
    // collision of a conditional scheme); non-ASCII ids sanitize out
    // (the tag charset is ASCII) but stay distinct via the hash; no
    // id anywhere fail-stops rather than guessing a namespace
    assert(StreamIdentity.prefixOf("job1").startsWith("qjob1-"))
    assert(StreamIdentity.prefixOf("a b/c").startsWith("qabc-"))
    assert(StreamIdentity.prefixOf("job 1") != StreamIdentity.prefixOf("job1"))
    assert(StreamIdentity.prefixOf("a b/c") != StreamIdentity.prefixOf("ab c/"))
    assert(StreamIdentity.prefixOf(StreamIdentity.prefixOf("job 1").drop(1))
      != StreamIdentity.prefixOf("job 1"),
      "a safe id equal to another id's derived form must still get its own namespace")
    assert(StreamIdentity.prefixOf("tâche1").matches("q[A-Za-z0-9_-]+"),
      "non-ASCII ids must yield tag-charset-safe prefixes")
    assert(StreamIdentity.prefixOf("a b/c") == StreamIdentity.prefixOf("a b/c"),
      "prefix must stay deterministic for replay reconstruction")
    val none = intercept[RuntimeException] {
      StreamIdentity.incarnationPrefix(spark, None)
    }
    assert(none.getMessage.contains("streamId"))
  }
}
