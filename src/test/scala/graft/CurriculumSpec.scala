package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SampleQueries
import graft.sources.Tables

/** c20 curriculum ordering plan: tercile balance under value ties,
  * stage ordering by quality (monotone pacing), contiguous per-(stage,
  * shard) positions forming a permutation, layout invariance, the
  * all-equal-quality degenerate case, and independence of the stage
  * boundary from c8's training-order octets.
  */
class CurriculumSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def plan() =
    SampleQueries.curriculumPlanOf(Tables.documents(spark, dir), nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("stages are quality-monotone: every stage-0 doc is at least as easy as any stage-1 doc") {
    val docs = Tables.documents(spark, dir)
    val q = SampleQueries.qualityTokenFrame(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val byStage = plan().groupBy(_._2).map { case (st, rows) =>
      st -> rows.map(r => q(r._1))
    }
    assert(byStage.keySet.subsetOf(Set(0L, 1L, 2L)))
    for (s <- 0L to 1L if byStage.contains(s) && byStage.contains(s + 1))
      assert(byStage(s).min >= byStage(s + 1).max,
        s"stage $s must not contain a harder doc than stage ${s + 1}")
  }

  test("terciles balance up to value ties: each stage holds >= 1 doc and stage 0 >= n/3 - ties") {
    val rows = plan()
    val n = rows.length
    val sizes = rows.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.getOrElse(0L, 0) >= (n + 2) / 3,
      "stage 0 is the cut AT OR ABOVE the first tercile rank, so it is at least n/3")
    assert(sizes.values.sum == n)
  }

  test("positions are a contiguous 1..k permutation inside every (stage, shard)") {
    plan().groupBy(r => (r._2, r._3)).foreach { case (_, rows) =>
      val ps = rows.map(_._4).sorted.toSeq
      assert(ps == (1L to rows.size.toLong).toSeq, s"positions $ps not contiguous")
    }
  }

  test("layout invariance: repartitioned input gives the identical plan") {
    val docs = Tables.documents(spark, dir)
    def rows(d: org.apache.spark.sql.DataFrame) =
      SampleQueries.curriculumPlanOf(d, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    assert(rows(docs) == rows(docs.repartition(7)))
  }

  test("all-equal quality degenerates to one stage, ordering still a permutation") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, "the a and of to in x y", 200L))
      .toDF("doc_id", "text", "n_chars")
    val rows = SampleQueries.curriculumPlanOf(docs, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.forall(_._2 == 0L), "identical quality must all land in stage 0")
    rows.groupBy(_._3).foreach { case (_, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1L to rs.size.toLong).toSeq)
    }
  }

  test("curriculum order is independent of c8's permutation (salted draw)") {
    val cur = plan().map(r => r._1 -> (r._3, r._4)).toMap
    val c8 = SampleQueries.shardShuffleOf(Tables.documents(spark, dir), 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // identical (shard, pos) for every doc would mean the draws are
    // correlated; a handful of coincidences is expected
    val same = cur.count { case (id, sp) => c8.get(id).contains(sp) }
    assert(same < cur.size / 2,
      s"curriculum order duplicates c8's permutation for $same/${cur.size} docs")
  }
}
