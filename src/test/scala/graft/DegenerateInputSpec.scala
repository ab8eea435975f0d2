package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ContaminationQueries, DedupClusters, DedupQueries}

/** Degenerate-input behavior: a production pipeline hits empty shards,
  * single-document partitions and trivial corpora long before it hits
  * 100 TB — every operator must return the right EMPTY/minimal answer,
  * not crash (array-HOF expressions on empty/short inputs are the usual
  * trap: negative-length sequence(), array_min of an empty array...).
  */
class DegenerateInputSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("minHashPairs: empty corpus, one doc, and all-short docs yield no pairs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(DedupQueries.minHashPairs(empty).count() == 0L)
    val one = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    assert(DedupQueries.minHashPairs(one).count() == 0L)
    // docs under the 3-token shingle window are filtered, not crashed
    val short = Seq((1L, "a b"), (2L, "x")).toDF("doc_id", "text")
    assert(DedupQueries.minHashPairs(short).count() == 0L)
  }

  test("minHashPairs: identical docs pair up with Jaccard 1.0") {
    val twin = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again")).toDF("doc_id", "text")
    val pairs = DedupQueries.minHashPairs(twin).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getAs[Double]("jaccard") == 1.0)
  }

  test("appendable index: empty and all-short increments probe to no pairs, empty append is a no-op") {
    val path = tempDir("graft_idx_degen") + "/mh"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river"),
      (2L, "the quick brown fox jumps over the lazy dog by the creek")).toDF("doc_id", "text")
    DedupQueries.initStoredIndex(spark, path, corpus)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(DedupQueries.probeStoredIndex(spark, path, empty).count() == 0L)
    // sub-shingle-window docs: ids exist, no signature rows — must not
    // crash the band-key HOFs and must produce no pairs
    val short = Seq((100L, "too short")).toDF("doc_id", "text")
    assert(DedupQueries.probeStoredIndex(spark, path, short).count() == 0L)
    DedupQueries.appendStoredIndex(spark, path, empty) // no-op, not a crash
    DedupQueries.appendStoredIndex(spark, path, short) // ids recorded, no sig
    // the short doc's id is now in the index: re-appending must trip
    val ex = intercept[IllegalArgumentException] {
      DedupQueries.appendStoredIndex(spark, path, short)
    }
    assert(ex.getMessage.contains("disjoint"))
  }

  test("t11 compression iterator survives early abandonment (limit) and full scans agree") {
    // the per-partition Deflater is end()'d by a task-completion
    // listener when the iterator is dropped mid-partition — a limit()
    // plan must work and a subsequent full scan must be unaffected
    val dir = "/root/testdata/sf0.001"
    val limited = graft.operators.TextQueries.tCompression.fn(spark, dir).limit(5).collect()
    assert(limited.length == 5)
    val full = graft.operators.TextQueries.tCompression.fn(spark, dir).count()
    assert(full == 500L)
  }

  test("connectedComponents: empty edge list yields empty labeling on both routes") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DedupClusters.connectedComponents(empty).count() == 0L)
    assert(DedupClusters.connectedComponents(empty, maxLocalEdges = -1L).count() == 0L)
  }

  test("connectedComponents: forced distributed route matches local on a tiny graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 7L), (10L, 9L)).toDF("a", "b")
    val local = DedupClusters.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dist = DedupClusters.connectedComponents(edges, maxLocalEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local == dist)
    assert(local == Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 9L), (10L, 9L)))
  }

  test("x1 broadcast guard: forced shuffle-join fallback returns identical results") {
    val dir = "/root/testdata/sf0.001"
    val broadcastPlan = ContaminationQueries.decontaminate(spark, dir).collect().toSeq
    // a 0-posting cap forces the eval side OFF the broadcast path
    val shufflePlan = ContaminationQueries
      .decontaminate(spark, dir, maxBroadcastEvalPostings = 0L).collect().toSeq
    assert(shufflePlan == broadcastPlan)
    assert(broadcastPlan.nonEmpty)
  }

  test("t15 broadcast guard: forced shuffle semi-join fallback returns identical heavy hitters") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val broadcastPlan = graft.operators.TextQueries
      .heavyHitters(docs, 0.002, 1024).collect().toSeq
    // a 0-row cap forces the MG candidate union OFF the broadcast path
    val shufflePlan = graft.operators.TextQueries
      .heavyHitters(docs, 0.002, 1024, maxBroadcastCandidates = 0L).collect().toSeq
    assert(shufflePlan == broadcastPlan)
    assert(broadcastPlan.nonEmpty)
  }

  test("p1 broadcast guard: forced shuffle fallback of the eval-gram join returns identical audit") {
    val dir = "/root/testdata/sf0.001"
    val broadcastPlan =
      graft.operators.PipelineQueries.curationPipeline(spark, dir).collect().toSeq
    val shufflePlan = graft.operators.PipelineQueries
      .curationPipeline(spark, dir, maxBroadcastEvalGrams = 0L).collect().toSeq
    assert(shufflePlan == broadcastPlan)
    assert(broadcastPlan.nonEmpty)
  }

  test("p6 broadcast guard: forced shuffle fallback of the capped-gram join returns identical leakage audit") {
    val cols = Seq("doc_id", "split", "text")
    val rel = Seq(
      (1L, "train", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "test", "alpha beta gamma delta epsilon zeta other tail"),
      (3L, "val", "completely different words here with no overlap at all")).toDF(cols: _*)
    val broadcastPlan =
      graft.operators.PipelineQueries.splitLeakage(rel).collect().toSeq
    val shufflePlan = graft.operators.PipelineQueries
      .splitLeakage(rel, maxBroadcastGrams = 0L).collect().toSeq
    assert(shufflePlan == broadcastPlan)
    assert(broadcastPlan.nonEmpty)
  }

  test("p2 broadcast guard: forced shuffle fallback of the dropped-set anti-join returns identical audit") {
    val dir = "/root/testdata/sf0.001"
    val broadcastPlan =
      graft.operators.PipelineQueries.releasePipeline(spark, dir).collect().toSeq
    val shufflePlan = graft.operators.PipelineQueries
      .releasePipeline(spark, dir, maxBroadcastDropped = 0L).collect().toSeq
    assert(shufflePlan == broadcastPlan)
    assert(broadcastPlan.nonEmpty)
  }

  test("topK aggregate: empty input group yields no rows, k=1 keeps the max") {
    val empty = Seq.empty[(Long, Double, Long)].toDF("g", "score", "id")
    val aggEmpty = empty.groupBy("g")
      .agg(graft.stats.Aggregates.topK(col("score"), col("id"), 3).as("top"))
    assert(aggEmpty.count() == 0L)
    val one = Seq((1L, 5.0, 10L), (1L, 7.0, 11L)).toDF("g", "score", "id")
    val top1 = one.groupBy("g")
      .agg(graft.stats.Aggregates.topK(col("score"), col("id"), 1).as("top"))
      .select(explode(col("top")).as("t")).select("t.id").as[Long].collect()
    assert(top1.toSeq == Seq(11L))
  }

  test("misraGries: empty stream, m=1, and an all-identical stream") {
    assert(graft.operators.TextQueries.misraGries(Iterator.empty, 4).isEmpty)
    // m=1: the majority element (> n/2) must survive
    val maj = Seq.fill(60)("hot") ++ (0 until 50).map(i => s"t$i")
    val s1 = graft.operators.TextQueries.misraGries(
      scala.util.Random.shuffle(maj).iterator, 1).toSet
    assert(s1.contains("hot"))
    assert(graft.operators.TextQueries.misraGries(
      Iterator.fill(100)("x"), 3).toSet == Set("x"))
  }

  test("heavyHitters rejects a frac below the MG guarantee") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      graft.operators.TextQueries.heavyHitters(docs, frac = 0.001, m = 10)
    }
  }

  test("tokenBudgetSelect: empty base selects nothing; zero budget selects nothing") {
    val empty = Seq.empty[(Long, Long, Double)].toDF("doc_id", "n_tokens", "quality")
    assert(graft.operators.SampleQueries.tokenBudgetSelect(empty, 100L).count() == 0L)
    val base = Seq((1L, 10L, 0.7), (2L, 10L, 0.6)).toDF("doc_id", "n_tokens", "quality")
    assert(graft.operators.SampleQueries.tokenBudgetSelect(base, 0L).count() == 0L)
    // budget below the first doc's tokens: the crossing bin is the best
    // bin and nothing fits
    assert(graft.operators.SampleQueries.tokenBudgetSelect(base, 9L).count() == 0L)
    // exact fit keeps exactly the first doc
    assert(graft.operators.SampleQueries.tokenBudgetSelect(base, 10L)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("bloom expression: null input row is dropped by the filter, not crashed") {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(10, 0.01)
    bf.putBinary("x".getBytes("UTF-8"))
    val bc = spark.sparkContext.broadcast(bf)
    val df = Seq(Some("x"), None, Some("y")).toDF("k")
    val kept = df.filter(graft.functions.BloomMightContainExpr(col("k"), bc))
      .as[String].collect()
    assert(kept.toSeq == Seq("x"))
  }

  test("c7 resampling: empty corpus yields empty; single language keeps ~half") {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val empty = Seq.empty[(Long, String, String, String, Long)].toDF(cols: _*)
    assert(graft.operators.SampleQueries.mixResampleOf(empty).count() == 0L)
    // one language: tau-weight is 1, rate = floor(n/2)/n — roughly half
    // survives the hash threshold (binomial noise around 100)
    val mono = (1L to 200L).map(i => (i, s"doc $i", "en", "s", 10L)).toDF(cols: _*)
    val kept = graft.operators.SampleQueries.mixResampleOf(mono).count()
    assert(kept > 60L && kept < 140L, s"single-lang keep count $kept implausible")
  }

  test("p3 manifest: empty corpus yields an empty manifest, not a crash") {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val empty = Seq.empty[(Long, String, String, String, Long)].toDF(cols: _*)
    assert(graft.operators.PipelineQueries.curationManifestOf(empty).count() == 0L)
  }

  test("t18 PII scrub: empty corpus and empty-string text survive") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.PiiQueries.piiScrub(empty).count() == 0L)
    val blank = graft.operators.PiiQueries.piiScrub(
      Seq((1L, "")).toDF("doc_id", "text")).collect().head
    assert(blank.getAs[Long]("n_emails") == 0L &&
      blank.getAs[String]("redacted") == "")
  }

  test("c8 shard shuffle: empty corpus and a single doc") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.SampleQueries.shardShuffleOf(empty, 8).count() == 0L)
    val one = graft.operators.SampleQueries.shardShuffleOf(
      Seq((7L, "x")).toDF("doc_id", "text"), 8).collect()
    assert(one.length == 1 && one(0).getLong(2) == 1L)
  }

  test("c9 snapshot diff: both snapshots empty, and one side empty") {
    val cols = Seq("doc_id", "text", "source")
    val empty = Seq.empty[(Long, String, String)].toDF(cols: _*)
    assert(graft.operators.SampleQueries.snapshotDiffOf(empty, empty).count() == 0L)
    val one = Seq((1L, "a", "s")).toDF(cols: _*)
    val added = graft.operators.SampleQueries.snapshotDiffOf(empty, one).collect()
    assert(added.length == 1 && added(0).getString(1) == "added")
    val removed = graft.operators.SampleQueries.snapshotDiffOf(one, empty).collect()
    assert(removed.length == 1 && removed(0).getString(1) == "removed")
  }

  test("p6 split leakage: empty release and single-split release audit empty") {
    val cols = Seq("doc_id", "split", "text")
    val empty = Seq.empty[(Long, String, String)].toDF(cols: _*)
    assert(graft.operators.PipelineQueries.splitLeakage(empty).count() == 0L)
    val mono = Seq(
      (1L, "train", "alpha beta gamma delta epsilon zeta"),
      (2L, "train", "alpha beta gamma delta epsilon zeta")).toDF(cols: _*)
    assert(graft.operators.PipelineQueries.splitLeakage(mono).count() == 0L)
  }

  test("t19/c11 vocab + encode survive empty and single-char corpora") {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // empty corpus: vocab fit yields zero pieces (an empty but VALID
    // vocab — every word falls back to single chars)
    val empty = Seq.empty[(Long, String, String, String, Long)].toDF(cols: _*)
    assert(graft.operators.SubwordQueries.fitVocab(empty).isEmpty)
    // single-char words: no 2..4-char candidates exist either
    val chars = Seq((1L, "a b c", "en", "s", 5L)).toDF(cols: _*)
    assert(graft.operators.SubwordQueries.fitVocab(chars).isEmpty)
    // encode with an EMPTY vocab: everything single-char fallback
    val m = new graft.functions.BpeMatcher(Array.empty)
    val row = m.stats(new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString("abc"))))
    assert(row.getLong(0) == 3L) // a, b, c
    // empty token array: zero pieces, zero digest
    val none = m.stats(new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any]()))
    assert(none.getLong(0) == 0L && none.getLong(1) == 0L)
  }

  test("t20 pack audit and t21 boundary spans: empty and single-doc corpora") {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val empty = Seq.empty[(Long, String, String, String, Long)].toDF(cols: _*)
    assert(graft.operators.TextQueries.packAuditOf(
      graft.operators.TextQueries.sequencePackFrame(empty)).count() == 0L)
    assert(graft.operators.TextQueries.packBoundarySpans(empty).count() == 0L)
    // one doc: a pack stream with no boundary — audit green, no spans
    val one = Seq((1L, "alpha beta gamma", "en", "s", 16L)).toDF(cols: _*)
    val audit = graft.operators.TextQueries.packAuditOf(
      graft.operators.TextQueries.sequencePackFrame(one)).collect()
    assert(audit.length == 1 && audit.head.getAs[Boolean]("contiguous"))
    assert(audit.head.getAs[Long]("n_packs") == 1L)
    assert(graft.operators.TextQueries.packBoundarySpans(one).count() == 0L)
    // two IDENTICAL docs in one source: still no boundary DUPLICATE —
    // a single boundary window occurs once; duplication needs >= 2
    // occurrences of the same straddling window
    val two = Seq(
      (1L, "alpha beta gamma", "en", "s", 16L),
      (2L, "alpha beta gamma", "en", "s", 16L)).toDF(cols: _*)
    assert(graft.operators.TextQueries.packBoundarySpans(two).count() == 0L)
  }

  test("c10 source cap: empty corpus, and a target below every source's tokens") {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val empty = Seq.empty[(Long, String, String, String, Long)].toDF(cols: _*)
    assert(graft.operators.SampleQueries.sourceCapOf(empty, 8, 1000L, 4).count() == 0L)
    // a tiny target: epochs clamp to 1 (never 0, never negative)
    val docs = (1L to 40L).map(i => (i, s"w$i x$i y$i", "en", "s", 10L)).toDF(cols: _*)
    val rows = graft.operators.SampleQueries.sourceCapOf(docs, 8, 1L, 4).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("n_epochs") == 1L))
    // an enormous target: epochs clamp to maxEpochs
    val rows2 = graft.operators.SampleQueries.sourceCapOf(docs, 8, 1000000L, 4).collect()
    assert(rows2.nonEmpty && rows2.forall(_.getAs[Long]("n_epochs") == 4L))
  }
}
