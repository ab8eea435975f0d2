package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupQueries

/** d12b — the stored substring index lifecycle (init → probe → append
  * → probe): each probe must equal the FULL d12 run over everything
  * accumulated so far, restricted to the batch — the d8/d10b
  * incremental contract applied to exact-substring dedup. Plus the
  * loud-failure gates (geometry mismatch, id overlap).
  */
class StoredSubstrSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private val k = 50
  private def uniq(tag: String, n: Int) = (1 to n).map(i => s"$tag$i")
  private val shared = (1 to 60).map(i => s"s$i")
  private val shared2 = (1 to 55).map(i => s"z$i")

  // corpus: holds `shared`; day1: one doc re-using `shared` (cross
  // corpus/batch dup) + two docs sharing `shared2` intra-batch; day2:
  // a doc re-using `shared2` (dup only against the APPENDED day1)
  private def corpusDf = Seq(
    (100L, (uniq("a", 10) ++ shared ++ uniq("b", 10)).mkString(" ")),
    (101L, uniq("c", 70).mkString(" "))).toDF("doc_id", "text")
  private def day1 = Seq(
    (1L, (uniq("d", 5) ++ shared ++ uniq("e", 5)).mkString(" ")),
    (2L, (uniq("f", 6) ++ shared2 ++ uniq("g", 4)).mkString(" ")),
    (3L, (uniq("h", 3) ++ shared2 ++ uniq("i", 7)).mkString(" "))).toDF("doc_id", "text")
  private def day2 = Seq(
    (11L, (uniq("j", 8) ++ shared2 ++ uniq("l", 2)).mkString(" ")),
    (12L, uniq("m", 60).mkString(" "))).toDF("doc_id", "text")

  private def rows(df: DataFrame) =
    df.as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(r => (r._1, r._2))

  private def fullRestricted(all: DataFrame, batchIds: Set[Long]) =
    rows(DedupQueries.dupSubstringsOf(all, k)).filter(r => batchIds(r._1))

  test("init -> probe -> append -> probe equals the full run at every step") {
    val path = tempDir("graft_substr_idx") + "/idx"
    DedupQueries.initStoredSubstrIndex(spark, path, corpusDf, k)
    // day 1: cross corpus/batch dup (shared) AND intra-batch dup (shared2)
    val p1 = rows(DedupQueries.probeStoredSubstrIndex(spark, path, day1, k))
    assert(p1 == fullRestricted(corpusDf.unionByName(day1), Set(1L, 2L, 3L)))
    assert(p1.map(_._1).toSet == Set(1L, 2L, 3L), "all three day-1 docs dup")
    // fold day 1 in; day 2's shared2 duplicates ONLY against day 1 —
    // a probe that missed the appended counts would emit nothing
    DedupQueries.appendStoredSubstrIndex(spark, path, day1, k)
    val p2 = rows(DedupQueries.probeStoredSubstrIndex(spark, path, day2, k))
    assert(p2 == fullRestricted(
      corpusDf.unionByName(day1).unionByName(day2), Set(11L, 12L)))
    assert(p2.map(_._1).toSet == Set(11L), "doc 11 dups vs day 1; 12 clean")
  }

  test("probe at the wrong k fails loudly (geometry stamp)") {
    val path = tempDir("graft_substr_geo") + "/idx"
    DedupQueries.initStoredSubstrIndex(spark, path, corpusDf, k)
    val e = intercept[IllegalArgumentException] {
      DedupQueries.probeStoredSubstrIndex(spark, path, day1, k = 8)
    }
    assert(e.getMessage.contains("geometry"))
  }

  test("overlapping doc_ids fail loudly on probe and append") {
    val path = tempDir("graft_substr_overlap") + "/idx"
    DedupQueries.initStoredSubstrIndex(spark, path, corpusDf, k)
    val clash = Seq((100L, uniq("x", 60).mkString(" "))).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      DedupQueries.probeStoredSubstrIndex(spark, path, clash, k)
    }
    assert(e1.getMessage.contains("disjoint"))
    val e2 = intercept[IllegalArgumentException] {
      DedupQueries.appendStoredSubstrIndex(spark, path, clash, k)
    }
    assert(e2.getMessage.contains("disjoint"))
  }

  test("compaction merges delta counts to one row per hash; probes identical across it") {
    import org.apache.spark.sql.functions.countDistinct
    val path = tempDir("graft_substr_compact") + "/idx"
    DedupQueries.initStoredSubstrIndex(spark, path, corpusDf, k)
    DedupQueries.appendStoredSubstrIndex(spark, path, day1, k)
    // day2's doc 11 duplicates shared2 ONLY via day1's append — the
    // probe that must survive the merge
    val before = rows(DedupQueries.probeStoredSubstrIndex(spark, path, day2, k))
    val counts = () => graft.sources.IndexStore.readSwappable(spark, path, "counts")
    // shared2's windows were counted by BOTH day-1 docs, so pre-compact
    // the table genuinely holds multi-row hashes (non-vacuous merge)
    assert(counts().count() >
      counts().agg(countDistinct("h")).head.getLong(0),
      "fixture must produce duplicate hash rows before the merge")
    DedupQueries.compactStoredSubstrIndex(spark, path)
    assert(counts().count() ==
      counts().agg(countDistinct("h")).head.getLong(0),
      "post-compact: exactly one count row per hash")
    assert(rows(DedupQueries.probeStoredSubstrIndex(spark, path, day2, k)) == before,
      "probe must be identical across the merge compaction")
    // appends keep working against the compacted (versioned) table
    DedupQueries.appendStoredSubstrIndex(spark, path, day2, k)
    val day3 = Seq((21L, (uniq("q", 7) ++ shared2 ++ uniq("u", 3)).mkString(" ")))
      .toDF("doc_id", "text")
    assert(rows(DedupQueries.probeStoredSubstrIndex(spark, path, day3, k)) ==
      fullRestricted(corpusDf.unionByName(day1).unionByName(day2)
        .unionByName(day3), Set(21L)))
  }

  test("all-short and empty batches probe to zero rows") {
    val path = tempDir("graft_substr_empty") + "/idx"
    DedupQueries.initStoredSubstrIndex(spark, path, corpusDf, k)
    val short = Seq((5L, "one two three")).toDF("doc_id", "text")
    assert(DedupQueries.probeStoredSubstrIndex(spark, path, short, k).count() == 0L)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(DedupQueries.probeStoredSubstrIndex(spark, path, empty, k).count() == 0L)
  }
}
