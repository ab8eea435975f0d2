package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SampleQueries

/** c9 semantics on constructed snapshots: exact classification of all
  * four statuses, identity diff, disjoint snapshots, and the
  * reconstruction property the audit exists for (yesterday + diff
  * accounts for today, row for row).
  */
class SnapshotDiffSpec extends AnyFunSuite with SparkTestSession {

  private def diff(old: Seq[(Long, String, String)], nw: Seq[(Long, String, String)]) = {
    import spark.implicits._
    SampleQueries.snapshotDiffOf(
      old.toDF("doc_id", "text", "source"), nw.toDF("doc_id", "text", "source"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
  }

  test("all four statuses classified exactly") {
    val out = diff(
      old = Seq((1L, "same", "s"), (2L, "v1", "s"), (3L, "gone", "s")),
      nw = Seq((1L, "same", "s"), (2L, "v2", "s"), (4L, "fresh", "s")))
    assert(out == Map(
      ("s", "added") -> ((1L, 4L)),
      ("s", "removed") -> ((1L, 3L)),
      ("s", "changed") -> ((1L, 2L)),
      ("s", "unchanged") -> ((1L, 1L))))
  }

  test("identity diff: everything unchanged") {
    val snap = Seq((1L, "a", "s1"), (2L, "b", "s2"))
    val out = diff(snap, snap)
    assert(out == Map(
      ("s1", "unchanged") -> ((1L, 1L)), ("s2", "unchanged") -> ((1L, 2L))))
  }

  test("disjoint snapshots: pure adds and removes") {
    val out = diff(
      old = Seq((1L, "a", "s"), (2L, "b", "s")),
      nw = Seq((3L, "c", "s"), (4L, "d", "s")))
    assert(out == Map(
      ("s", "added") -> ((2L, 3L)), ("s", "removed") -> ((2L, 1L))))
  }

  test("derived previous snapshot: retired ids never collide with live ids (review finding)") {
    import spark.implicits._
    // ids straddle the old fixed 10M offset AND include negatives —
    // the measured doc_id − min + max + 1 alias maps every retired id
    // injectively above ALL live ids (a bare max+1 offset would land
    // negative retirees back inside the live range), so 'removed'
    // counts exactly the retired set
    val ids = (-10L to 9L) ++ (10000000L to 10000009L)
    val docs = ids.map(i => (i, s"text$i", "s")).toDF("doc_id", "text", "source")
    val out = SampleQueries.snapshotDiffOf(
      graft.operators.Scaffold.previousSnapshot(docs), docs)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val retired = ids.count(_ % 23 == 0)
    val added = ids.count(_ % 17 == 0)
    assert(out.getOrElse("removed", 0L) == retired)
    assert(out.getOrElse("added", 0L) == added)
    // every status count is non-negative and partitions old ∪ new
    val oldN = ids.count(_ % 17 != 0) + retired
    assert(out.getOrElse("unchanged", 0L) + out.getOrElse("changed", 0L) +
      out.getOrElse("removed", 0L) == oldN)
  }

  test("reconstruction: |today| = unchanged + changed + added; |yesterday| = unchanged + changed + removed") {
    val old = (1L to 40L).map(i => (i, if (i % 4 == 0) s"old$i" else s"t$i", "s"))
    val nw = (11L to 50L).map(i => (i, if (i % 4 == 0) s"new$i" else s"t$i", "s"))
    val counts = diff(old, nw).map { case ((_, st), (n, _)) => st -> n }
    assert(counts.getOrElse("unchanged", 0L) + counts.getOrElse("changed", 0L) +
      counts.getOrElse("added", 0L) == nw.size)
    assert(counts.getOrElse("unchanged", 0L) + counts.getOrElse("changed", 0L) +
      counts.getOrElse("removed", 0L) == old.size)
  }
}
