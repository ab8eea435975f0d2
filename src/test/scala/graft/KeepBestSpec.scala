package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{DedupClusters, DedupQueries}
import graft.sources.Tables

/** d11 cluster-canonical keep-best selection: hand-built elections
  * (quality argmax, min-id tie-break), full-corpus coverage with
  * singleton identity, one-keep-per-cluster, broadcast-vs-shuffle route
  * parity, layout invariance.
  */
class KeepBestSpec extends AnyFunSuite with SparkTestSession {

  // quality is monotone in length_ok (+0.5): same text, n_chars flips it
  private def docsOf(rows: (Long, String, Long)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text", "n_chars")
  }

  private def clustersOf(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "cluster_id")
  }

  test("elects the max-quality doc; min doc_id breaks exact ties") {
    val docs = docsOf(
      (1L, "a b c", 10L),   // length_ok false -> lower quality
      (2L, "a b c", 200L),  // length_ok true  -> highest in cluster 1
      (3L, "a b c", 10L),
      (5L, "x y", 300L),    // cluster 5: 5 and 6 tie exactly
      (6L, "x y", 300L))
    val cl = clustersOf(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    val out = DedupClusters.keepBest(docs, cl)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((2L, false)))
    assert(out(2L) == ((2L, true)))
    assert(out(3L) == ((2L, false)))
    assert(out(5L) == ((5L, true)), "exact tie must elect the min doc_id")
    assert(out(6L) == ((5L, false)))
  }

  test("full-corpus coverage: singletons are their own canonical doc") {
    val docs = docsOf((1L, "a", 10L), (2L, "b", 10L), (9L, "c", 200L))
    val cl = clustersOf(1L -> 1L, 2L -> 1L)
    val out = DedupClusters.keepBest(docs, cl)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getBoolean(4)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 9L), "every doc exactly once, ordered")
    val nine = out.find(_._1 == 9L).get
    assert(nine == ((9L, 9L, 9L, true)))
  }

  test("exactly one keep per cluster on the real d6 chain") {
    val dir = "/root/testdata/sf0.001"
    val cc = DedupClusters.connectedComponents(
      DedupQueries.corpusNgramPairs(spark, dir, threshold = 0.4, corpusBound = 500L))
    val out = DedupClusters.keepBest(Tables.documents(spark, dir), cc)
    val perCluster = out.groupBy("cluster_id")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("n_keep"))
      .collect().map(_.getLong(1))
    assert(perCluster.nonEmpty && perCluster.forall(_ == 1L))
    // the kept doc's quality is the cluster max
    val bad = out.as("o").groupBy("cluster_id")
      .agg(max("quality").as("qmax"),
        max(when(col("keep"), col("quality"))).as("qkept"))
      .filter(col("qmax") =!= col("qkept")).count()
    assert(bad == 0L)
  }

  test("broadcast and shuffle-join routes agree; layout invariant") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val cc = DedupClusters.connectedComponents(
      DedupQueries.corpusNgramPairs(spark, dir, threshold = 0.4, corpusBound = 500L))
    val a = DedupClusters.keepBest(docs, cc).collect().toSeq
    val b = DedupClusters.keepBest(docs, cc, broadcastRows = 0L).collect().toSeq
    val c = DedupClusters.keepBest(docs.repartition(7), cc.repartition(5)).collect().toSeq
    assert(a == b)
    assert(a == c)
  }
}
