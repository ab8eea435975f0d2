package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SampleQueries
import graft.sources.Tables

/** c19 embedding-cluster-balanced resampling: nearest-seed assignment
  * equals a driver-side brute-force recompute on the real fixture,
  * flattening direction (bigger clusters get smaller keep thresholds),
  * half-corpus budget tracking, layout invariance, and the k > n edge.
  */
class ClusterMixSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("assignment equals the driver-side brute-force argmin") {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val seeds = SampleQueries.clusterSeeds(emb, 8)
    val got = SampleQueries.clusterAssign(emb, seeds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    assert(vecs.nonEmpty)
    vecs.foreach { case (id, x) =>
      // same arithmetic as the column expression: halfNorm - ascending dot
      val best = seeds.map { case (sid, c) =>
        var dot = 0.0
        var i = 0
        while (i < c.length) { dot += x(i) * c(i); i += 1 }
        (c.map(v => v * v).sum / 2.0 - dot, sid)
      }.minBy(identity)
      assert(got(id) == best._2, s"vec $id routed to ${got(id)}, brute says ${best._2}")
    }
  }

  test("flattening direction: a larger cluster never gets a larger keep threshold") {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val rows = SampleQueries.clusterMixOf(emb, 8).collect()
      .map(r => (r.getLong(1), r.getString(4))) // (n_vecs, rate_thr)
    assert(rows.length >= 2, "fixture must split into several clusters")
    rows.sortBy(_._1).toSeq.sliding(2).foreach {
      case Seq((na, ta), (nb, tb)) if na < nb =>
        assert(tb <= ta, s"cluster of $nb kept thr $tb > smaller cluster's $ta")
      case _ => ()
    }
  }

  test("kept total tracks the half-corpus budget") {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val rows = SampleQueries.clusterMixOf(emb, 8).collect()
    val nAll = rows.map(_.getLong(1)).sum
    val kept = rows.map(_.getLong(2)).sum
    // binomial around the target; 4 sigma of n/2 draws at p<=1
    assert(kept <= nAll)
    assert(math.abs(kept - nAll / 2.0) <= 4.0 * math.sqrt(nAll.toDouble),
      s"kept $kept vs half of $nAll")
  }

  test("layout invariance: repartitioned input gives identical audit rows") {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val a = SampleQueries.clusterMixOf(emb, 8).collect().toSeq
    val b = SampleQueries.clusterMixOf(emb.repartition(7), 8).collect().toSeq
    assert(a == b)
  }

  test("k larger than the corpus degenerates to one cluster per vector") {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 3)
    val rows = SampleQueries.clusterMixOf(emb, 8).collect()
    assert(rows.map(_.getLong(1)).sum == 3L)
    // every vector is its own nearest seed (distance 0 beats any other
    // unit-norm seed), so each cluster has exactly one member
    assert(rows.forall(_.getLong(1) == 1L))
  }
}
