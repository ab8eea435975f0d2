package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BpeMatcher, MergeTable, SubwordExpressions}
import graft.operators.SubwordQueries

/** t19 subword tokenizer: hand-computed greedy-longest-match cases
  * (the oracle mirrors the same closed form, so a shared formula bug
  * would hash-match — these pin the INTENDED semantics), vocab-fit
  * determinism/layout invariance, the vocab contract, and the
  * ws-vs-subword billing divergence the operator exists to expose.
  */
class SubwordSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"

  /** digest step: acc*31 + len(piece) + code(first char), mod 1e9+7 */
  private def dig(pieces: Seq[String]): Long =
    pieces.foldLeft(0L)((a, p) => (a * 31 + p.length + p.charAt(0).toLong) % 1000000007L)

  test("greedy longest-match encodes hand-computed cases (codegen path)") {
    import spark.implicits._
    val m = new BpeMatcher(Array("ab", "abc", "bcd", "xy"))
    val docs = Seq(
      (1L, Seq("abcd")),         // abc+d: longest match wins over ab
      (2L, Seq("ababab")),       // ab,ab,ab: no 3/4-char match
      (3L, Seq("zzz")),          // no match at all: 3 single chars
      (4L, Seq("")),             // empty word: zero pieces
      (5L, Seq("xy", "q")),      // exact 2-char piece + 1-char word
      (6L, Seq("bcdbcd"))        // bcd,bcd
    ).toDF("doc_id", "tk")
    val got = docs.select(col("doc_id"),
        SubwordExpressions.bpeStats(col("tk"), m).as("s"))
      .select(col("doc_id"), col("s.n_tokens_bpe"), col("s.bpe_digest"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (2L, 1000003L + dig(Seq("abc", "d"))))
    assert(got(2L) == (3L, 1000003L + dig(Seq("ab", "ab", "ab"))))
    assert(got(3L) == (3L, 1000003L + dig(Seq("z", "z", "z"))))
    assert(got(4L) == (0L, 1000003L))
    assert(got(5L) == (2L, (1000003L + dig(Seq("xy"))) + (2L * 1000003L + dig(Seq("q")))))
    assert(got(6L) == (2L, 1000003L + dig(Seq("bcd", "bcd"))))
  }

  test("interpreted eval agrees with the hand-computed closed form") {
    val m = new BpeMatcher(Array("ab", "abc"))
    val row = m.stats(new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString("abcab"))))
    // abcab → abc + ab
    assert(row.getLong(0) == 2L)
    assert(row.getLong(1) == 1000003L + dig(Seq("abc", "ab")))
  }

  test("vocab contract: pieces 2..4 chars only; 1-char pieces are rejected") {
    intercept[IllegalArgumentException](new BpeMatcher(Array("a")))
    intercept[IllegalArgumentException](new BpeMatcher(Array("abcde")))
  }

  test("vocab fit is deterministic and partition-layout-invariant") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val v1 = SubwordQueries.fitVocab(docs)
    val v2 = SubwordQueries.fitVocab(docs.repartition(13))
    assert(v1.length == SubwordQueries.vocabSize)
    assert(v1.toSeq == v2.toSeq, "vocab must not depend on partition layout")
    assert(v1.forall(p => p.length >= 2 && p.length <= 4))
    assert(v1.distinct.length == v1.length)
  }

  test("stored vocab round-trips and the memo serves the same array") {
    val a = SubwordQueries.storedVocab(spark, dir)
    val b = SubwordQueries.storedVocab(spark, dir)
    assert(a.toSeq == b.toSeq && a.length == SubwordQueries.vocabSize)
  }

  test("c11 is the exact maximal (quality desc, doc_id) prefix under the subword budget") {
    val budget = 40000L
    val sel = SubwordQueries.cTokenBudgetBpe.fn(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens_bpe"),
        r.getAs[Double]("quality")))
    assert(sel.nonEmpty && sel.length < 500, "budget must bind on the fixture")
    // recompute the naive global answer from t19's counts + t2's quality
    val counts = SubwordQueries.tBpeTokens.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens_bpe")).toMap
    val quality = graft.operators.TextQueries.tQuality.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    val ranked = counts.keys.toSeq.sortBy(d => (-quality(d), d))
    var cum = 0L
    val want = ranked.takeWhile { d => cum += counts(d); cum <= budget }.toSet
    assert(sel.map(_._1).toSet == want, "c11 must equal the naive global prefix")
    // budget respected AND maximal: the next-ranked doc would overflow
    val total = sel.map(_._2).sum
    assert(total <= budget)
    val next = ranked.drop(want.size).headOption
    next.foreach(d => assert(total + counts(d) > budget, "prefix not maximal"))
    // the selection is billed in SUBWORD tokens, not whitespace tokens
    sel.foreach { case (d, n, _) => assert(n == counts(d)) }
  }

  test("merge-order encode: rank priority, leftmost tie, termination (t22 kernel)") {
    // rank priority: (b,c) outranks (a,b), so "abc" merges b+c first
    val t = new MergeTable(Array(("b", "c"), ("a", "b")))
    assert(t.encode("abc").toSeq == Seq("a", "bc"))
    // leftmost occurrence of the best rank wins
    val tie = new MergeTable(Array(("a", "a")))
    assert(tie.encode("aaaa").toSeq == Seq("aa", "aa"))
    // chained merges grow tokens past pair length
    val chain = new MergeTable(Array(("a", "b"), ("ab", "c")))
    assert(chain.encode("abc").toSeq == Seq("abc"))
    // (ab,c) and (a,bc) are distinct rules: only the exact split fires
    val split = new MergeTable(Array(("b", "c"), ("ab", "c")))
    assert(split.encode("abc").toSeq == Seq("a", "bc"),
      "(ab,c) must not fire on the (a,bc) token split")
    assert(t.encode("").toSeq == Seq.empty)
  }

  test("greedy and merge-order disagree exactly on boundary-ambiguous strings") {
    // same-count, different-segmentation: greedy {ab,bc} takes ab|c,
    // the merge table ranking (b,c) first yields a|bc
    val greedy = new BpeMatcher(Array("ab", "bc"))
    val merge = new MergeTable(Array(("b", "c"), ("a", "b")))
    assert(merge.encode("abc").toSeq == Seq("a", "bc"))
    val g = greedy.stats(new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString("abc"))))
    assert(g.getLong(0) == 2L && g.getLong(1) == 1000003L + dig(Seq("ab", "c")))
    val m = merge.stats(new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString("abc"))))
    assert(m.getLong(0) == 2L && m.getLong(1) == 1000003L + dig(Seq("a", "bc")))
    assert(g.getLong(1) != m.getLong(1), "digest must expose the segmentation difference")
    // count divergence: greedy {aa,ab,bb} bills "aabb" as 2 pieces;
    // a table ranking (a,b) first blocks both end merges → 3 tokens
    val g2 = new BpeMatcher(Array("aa", "ab", "bb"))
    val m2 = new MergeTable(Array(("a", "b"), ("a", "a"), ("b", "b")))
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString("aabb")))
    assert(g2.stats(arr).getLong(0) == 2L)
    assert(m2.encode("aabb").toSeq == Seq("a", "ab", "b"))
    assert(m2.stats(arr).getLong(0) == 3L,
      "merge-order must bill 3 tokens where greedy bills 2")
  }

  test("merge-encode expression (codegen path) agrees with the kernel") {
    import spark.implicits._
    val t = new MergeTable(Array(("a", "b"), ("ab", "c"), ("x", "y")))
    val got = Seq("abc", "xyab", "", "zzz").toDF("w")
      .select(col("w"), SubwordExpressions.bpeMergeEncode(col("w"), t).as("tk"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("abc") == Seq("abc"))
    assert(got("xyab") == Seq("xy", "ab"))
    assert(got("") == Seq.empty)
    assert(got("zzz") == Seq("z", "z", "z"))
  }

  test("merge fit is deterministic, layout-invariant, duplicate-free, two-tier") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val m1 = SubwordQueries.fitMerges(docs)
    val m2 = SubwordQueries.fitMerges(docs.repartition(13))
    assert(m1.toSeq == m2.toSeq, "merge table must not depend on partition layout")
    assert(m1.length == SubwordQueries.mergeTier * 2)
    assert(m1.distinct.length == m1.length, "tier 2 must not repeat a tier-1 pair")
    // tier 1 is single-char pairs; tier 2 contains at least one
    // longer-token rule (the point of re-encoding before counting)
    val (t1, t2) = m1.splitAt(SubwordQueries.mergeTier)
    assert(t1.forall { case (l, r) => l.length == 1 && r.length == 1 })
    assert(t2.exists { case (l, r) => l.length > 1 || r.length > 1 })
  }

  test("stored merges round-trip through the index store") {
    val a = SubwordQueries.storedMerges(spark, dir)
    val b = SubwordQueries.storedMerges(spark, dir)
    assert(a.toSeq == b.toSeq && a.length == SubwordQueries.mergeTier * 2)
  }

  test("t22 vs t19 on the fixture: same billing direction, measurable segmentation divergence") {
    val greedy = SubwordQueries.tBpeTokens.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens_bpe"), r.getAs[Long]("bpe_digest"))).toMap
    val merge = SubwordQueries.tBpeMergeTokens.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens_merge"), r.getAs[Long]("merge_digest"),
          r.getAs[Long]("n_tokens_ws"))).toMap
    assert(merge.size == 500)
    merge.foreach { case (d, (nm, _, nws)) =>
      assert(nm >= nws, s"doc $d: merge tokens below whitespace tokens") }
    // the two encoders disagree on a substantial share of documents —
    // the reason the merge-order encoder exists (billing-exactness);
    // measured share documented in SCALE.md
    val diverged = merge.count { case (d, (nm, dg, _)) =>
      greedy(d)._1 != nm || greedy(d)._2 != dg }
    assert(diverged > 100, s"only $diverged/500 docs diverge — fixture too tame")
  }

  test("t19 exposes the ws-vs-subword billing divergence on the fixture") {
    val rows = SubwordQueries.tBpeTokens.fn(spark, dir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      // every word yields >= 1 piece, so subword count >= whitespace count
      assert(r.getAs[Long]("n_tokens_bpe") >= r.getAs[Long]("n_tokens_ws"), r.toString)
    }
    val ws = rows.map(_.getAs[Long]("n_tokens_ws")).sum
    val bpe = rows.map(_.getAs[Long]("n_tokens_bpe")).sum
    // a whitespace-budgeted corpus materially misses a subword budget
    assert(bpe.toDouble / ws > 1.3, s"divergence vanished: $bpe vs $ws")
  }
}
