package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SampleQueries

/** c8 semantics: the shard/pos assignment is a true permutation
  * manifest — every doc appears exactly once, positions are contiguous
  * 1..n per shard, the assignment is layout-invariant (same result on
  * any input partitioning), and shards are balanced within binomial
  * bounds.
  */
class ShardShuffleSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"
  private lazy val docs = graft.sources.Tables.documents(spark, dir)
  private lazy val out = SampleQueries.shardShuffleOf(docs, nShards = 8)
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  test("partition of the corpus: every doc exactly once") {
    val n = docs.count()
    assert(out.length == n)
    assert(out.map(_._1).distinct.length == n)
  }

  test("positions are contiguous 1..n within every shard") {
    out.groupBy(_._2).foreach { case (_, rows) =>
      val ps = rows.map(_._3).sorted.toSeq
      assert(ps == (1L to rows.length).toSeq, s"shard positions not contiguous")
    }
  }

  test("layout-invariant: same manifest from a repartitioned input") {
    val re = SampleQueries.shardShuffleOf(docs.repartition(13), nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(re.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
  }

  test("shards are balanced (binomial bounds at n=5000, p=1/8)") {
    val sizes = out.groupBy(_._2).map(_._2.length)
    val exp = out.length / 8.0
    // 6 sigma for Binomial(n, 1/8): sigma = sqrt(n*p*(1-p)) ~ 23 at n=5000
    val sigma = math.sqrt(out.length * (1.0 / 8) * (7.0 / 8))
    assert(sizes.size == 8)
    sizes.foreach(s => assert(math.abs(s - exp) < 6 * sigma, s"shard size $s vs $exp"))
  }

  test("in-shard order follows the order octet (hash-shuffled, not id order)") {
    // at least one shard must have a non-monotone doc_id sequence by pos —
    // otherwise the "shuffle" degenerated to insertion order
    val shuffledSomewhere = out.groupBy(_._2).exists { case (_, rows) =>
      val ids = rows.sortBy(_._3).map(_._1)
      ids != ids.sorted
    }
    assert(shuffledSomewhere)
  }
}
