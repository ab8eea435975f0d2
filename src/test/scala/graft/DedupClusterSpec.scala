package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupClusters, DedupQueries}

/** Distributed connected components vs driver-side union-find ground
  * truth on the real MinHash pair list (plus a synthetic chain that
  * needs multiple propagation rounds).
  */
class DedupClusterSpec extends AnyFunSuite with SparkTestSession {

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("both CC routes match union-find on real minhash pairs") {
    val pairs = DedupQueries.dMinHash.fn(spark, "/root/testdata/sf0.001")
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty)
    val want = unionFind(pairs)
    val df = spark.createDataFrame(pairs).toDF("a", "b")
    // default gate → driver union-find route
    val local = DedupClusters.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // gate 0 → forced distributed label-propagation route
    val dist = DedupClusters.connectedComponents(df, maxLocalEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == want, s"local diff: ${local.toSet.diff(want.toSet).take(5)}")
    assert(dist == want, s"dist diff: ${dist.toSet.diff(want.toSet).take(5)}")
  }

  test("self-pairs become singleton clusters on both routes") {
    val df = spark.createDataFrame(Seq((7L, 7L), (1L, 2L))).toDF("a", "b")
    for (gate <- Seq(0L, Long.MaxValue)) {
      val got = DedupClusters.connectedComponents(df, maxLocalEdges = gate)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(7L -> 7L, 1L -> 1L, 2L -> 1L), s"gate=$gate: $got")
    }
  }

  test("long chain converges to a single component on both routes") {
    val chain = (0L until 30L).map(i => (i, i + 1))
    val df = spark.createDataFrame(chain).toDF("a", "b")
    for (gate <- Seq(0L, Long.MaxValue)) {
      val got = DedupClusters.connectedComponents(df, maxLocalEdges = gate)
        .collect().map(r => r.getLong(1)).distinct
      assert(got.sameElements(Array(0L)), s"gate=$gate labels: ${got.mkString(",")}")
    }
  }
}
