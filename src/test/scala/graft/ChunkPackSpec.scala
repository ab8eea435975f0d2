package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the chunking/packing operators that the
  * DuckDB oracle cannot vouch for (it mirrors the same formula, so a
  * formula bug would hash-match): chunk coverage and non-redundancy
  * for t12, offset contiguity for t13.
  */
class ChunkPackSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"

  test("t12 chunks cover every token and never emit a fully-contained tail chunk") {
    val byDoc = SparkEntry.queries("t12_doc_chunks")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).values.map(_.sortBy(_._2))
    import org.apache.spark.sql.functions._
    val nTokens = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc.nonEmpty && byDoc.exists(_.length > 1),
      "fixture has no multi-chunk documents — test is vacuous")
    for (chunks <- byDoc) {
      val doc = chunks.head._1
      // contiguous ids from 0
      assert(chunks.map(_._2).toSeq == (0L until chunks.length).toSeq, s"doc $doc ids")
      // all chunks but the last are exactly the chunk size; the last
      // ends exactly at the document end (full coverage, 48-stride)
      chunks.dropRight(1).foreach { case (_, _, n) =>
        assert(n == 64L, s"doc $doc: interior chunk not full") }
      val (_, lastId, lastLen) = chunks.last
      assert(lastId * 48 + lastLen == nTokens(doc),
        s"doc $doc: chunks do not cover the document exactly")
      // a tail chunk with ≤16 tokens would lie entirely inside the
      // previous chunk's 16-token overlap: pure duplicate data
      if (chunks.length > 1)
        assert(lastLen > 16L, s"doc $doc: fully-contained duplicate tail chunk")
    }
  }

  test("t13 packing offsets are contiguous per source and pack ids consistent") {
    val rows = SparkEntry.queries("t13_sequence_pack")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("tok_offset"),
        r.getAs[Long]("pack_first"), r.getAs[Long]("pack_last")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, docs) =>
      val sorted = docs.sortBy(_._2)
      assert(sorted.head._4 == 0L, s"$src: first doc must start at offset 0")
      sorted.sliding(2).foreach {
        case Array((_, _, n, off, _, _), (_, d2, _, off2, _, _)) =>
          assert(off2 == off + n, s"$src: offset gap before doc $d2")
        case _ => ()
      }
      for ((_, d, n, off, pf, pl) <- sorted) {
        assert(pf == off / 128 && pl == (off + n - 1) / 128,
          s"$src doc $d: pack range inconsistent with offset")
      }
    }
  }

  test("t13b subword packing keeps the layout contract and genuinely moves boundaries") {
    val bpe = SparkEntry.queries("t13b_sequence_pack_bpe")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("tok_offset"),
        r.getAs[Long]("pack_first"), r.getAs[Long]("pack_last")))
    assert(bpe.nonEmpty)
    // same layout contract as t13, denominated in subword tokens
    bpe.groupBy(_._1).foreach { case (src, docs) =>
      val sorted = docs.sortBy(_._2)
      assert(sorted.head._4 == 0L, s"$src: first doc must start at offset 0")
      sorted.sliding(2).foreach {
        case Array((_, _, n, off, _, _), (_, d2, _, off2, _, _)) =>
          assert(off2 == off + n, s"$src: offset gap before doc $d2")
        case _ => ()
      }
    }
    // the counts ARE t19's: the pack stage and the token counter can
    // never disagree about a doc's billed length
    val t19 = graft.operators.SubwordQueries.tBpeTokens.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens_bpe")).toMap
    bpe.foreach { case (_, d, n, _, _, _) =>
      assert(n == t19(d), s"doc $d: pack count $n != t19 count ${t19(d)}") }
    // and c11's budget bills the same denomination (shared BpeStats)
    val c11 = graft.operators.SubwordQueries.cTokenBudgetBpe.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens_bpe")).toMap
    c11.foreach { case (d, n) => assert(n == t19(d), s"c11 doc $d count drift") }
    // boundary movement is structural, not a rescale: doc-level
    // ws→subword expansion varies, so pack_first assignments diverge
    // from t13's beyond any constant factor
    val ws = SparkEntry.queries("t13_sequence_pack")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pack_first"))).toMap
    val moved = bpe.count { case (_, d, _, _, pf, _) => ws(d) != pf }
    assert(moved > 100, s"only $moved/500 docs changed pack — denomination is cosmetic")
  }

  test("t13c merge packing: layout contract, t22-count equality, audit green, boundaries move vs t13b") {
    val mrg = SparkEntry.queries("t13c_sequence_pack_merge")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("tok_offset"),
        r.getAs[Long]("pack_first"), r.getAs[Long]("pack_last")))
    assert(mrg.nonEmpty)
    mrg.groupBy(_._1).foreach { case (src, docs) =>
      val sorted = docs.sortBy(_._2)
      assert(sorted.head._4 == 0L, s"$src: first doc must start at offset 0")
      sorted.sliding(2).foreach {
        case Array((_, _, n, off, _, _), (_, d2, _, off2, _, _)) =>
          assert(off2 == off + n, s"$src: offset gap before doc $d2")
        case _ => ()
      }
    }
    // the counts ARE t22's merge-order counts: the layout a real
    // tokenizer's billing can be checked against
    val t22 = graft.operators.SubwordQueries.tBpeMergeTokens.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens_merge")).toMap
    mrg.foreach { case (_, d, n, _, _, _) =>
      assert(n == t22(d), s"doc $d: pack count $n != t22 merge count ${t22(d)}") }
    // greedy (t13b) and merge-order (t13c) genuinely disagree about
    // the layout — the measured +9% greedy overbilling moves packs
    val greedy = SparkEntry.queries("t13b_sequence_pack_bpe")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pack_first"))).toMap
    val moved = mrg.count { case (_, d, _, _, pf, _) => greedy(d) != pf }
    assert(moved > 100, s"only $moved/500 docs changed pack vs greedy")
    // and the t20 audit contract holds on the merge denomination
    val table = new graft.functions.MergeTable(
      graft.operators.SubwordQueries.storedMerges(spark, dir))
    val frame = graft.operators.TextQueries.sequencePackFrameBy(
      graft.sources.Tables.documents(spark, dir),
      graft.functions.SubwordExpressions.bpeMergeStats(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("text"), " "), table)
        .getField("n_tokens_merge"))
    val audit = graft.operators.TextQueries.packAuditOf(frame).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      assert(r.getAs[Long]("n_gaps") == 0L && r.getAs[Long]("n_pack_errors") == 0L
          && r.getAs[Boolean]("contiguous"),
        "audit must be green on the merge layout: " + r.toString)
    }
  }

  test("t20 pack audit passes unchanged on the subword-denominated t13b frame") {
    // the audit contract is denomination-agnostic: offsets vs counts
    val matcher = new graft.functions.BpeMatcher(
      graft.operators.SubwordQueries.storedVocab(spark, dir))
    val frame = graft.operators.TextQueries.sequencePackFrameBy(
      graft.sources.Tables.documents(spark, dir),
      graft.functions.SubwordExpressions.bpeStats(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("text"), " "), matcher)
        .getField("n_tokens_bpe"))
    val audit = graft.operators.TextQueries.packAuditOf(frame).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      assert(r.getAs[Long]("n_gaps") == 0L && r.getAs[Long]("n_pack_errors") == 0L
          && r.getAs[Boolean]("contiguous"),
        "audit must be green on the subword layout: " + r.toString)
    }
  }

  test("t20 pack audit is green on t13's layout and flags corrupted layouts") {
    import org.apache.spark.sql.functions._
    val packed = graft.operators.TextQueries.sequencePackFrame(
      graft.sources.Tables.documents(spark, dir))
    val clean = graft.operators.TextQueries.packAuditOf(packed).collect()
    assert(clean.nonEmpty)
    clean.foreach { r =>
      assert(r.getAs[Boolean]("contiguous"), s"clean layout not contiguous: $r")
      assert(r.getAs[Long]("n_gaps") == 0L && r.getAs[Long]("n_pack_errors") == 0L)
      assert(r.getAs[Long]("end_offset") == r.getAs[Long]("total_tokens"))
      // tail padding is what's left of the last 128-sequence
      val pad = r.getAs[Long]("pad_tokens")
      assert(pad >= 0L && pad < 128L, s"pad out of range: $r")
      assert(r.getAs[Long]("n_packs") * 128L ==
        r.getAs[Long]("total_tokens") + pad)
    }
    // corrupt 1: shift one doc's offset by +3 → a gap appears at that
    // doc AND at its successor (expected-offset mismatch both sides)
    val victim = packed.orderBy("source", "doc_id").select("doc_id").head.getLong(0)
    val shifted = packed.withColumn("tok_offset",
      when(col("doc_id") === victim, col("tok_offset") + 3L)
        .otherwise(col("tok_offset")))
    val a1 = graft.operators.TextQueries.packAuditOf(shifted).collect()
    assert(a1.exists(r => r.getAs[Long]("n_gaps") > 0L && !r.getAs[Boolean]("contiguous")),
      "offset corruption not flagged")
    // corrupt 2: break one stored pack id without touching offsets
    val badPack = packed.withColumn("pack_last",
      when(col("doc_id") === victim, col("pack_last") + 1L)
        .otherwise(col("pack_last")))
    val a2 = graft.operators.TextQueries.packAuditOf(badPack).collect()
    assert(a2.exists(_.getAs[Long]("n_pack_errors") > 0L),
      "pack-id corruption not flagged")
    // corrupt 3: drop a doc entirely → every later doc in its source
    // gaps; total_tokens no longer closes the books
    val dropped = packed.filter(col("doc_id") =!= victim)
    val a3 = graft.operators.TextQueries.packAuditOf(dropped).collect()
    assert(a3.exists(r => !r.getAs[Boolean]("contiguous")),
      "dropped-doc corruption not flagged")
  }

  test("t21 flags repeated pack-boundary windows and ignores interior duplicates") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def words(prefix: String, n: Int, salt: Int) =
      (1 to n).map(i => s"$prefix${salt}_$i").mkString(" ")
    val footer = (1 to 8).map(i => s"foot$i").mkString(" ")
    val header = (1 to 8).map(i => s"head$i").mkString(" ")
    val interior = (1 to 16).map(i => s"mid$i").mkString(" ")
    // srcA pack order: (1 footer)(2 header)(3 footer)(4 header) → the
    // boundary window footer||header occurs at 1→2 and 3→4 (dup), and
    // 2→3's window (random tail || random... footer? doc 3 ends with
    // footer but the BOUNDARY window uses doc 2's tail + doc 3's head
    // — both random → unique)
    val rows = Seq(
      (1L, "srcA", words("a", 12, 1) + " " + footer),
      (2L, "srcA", header + " " + words("b", 12, 2)),
      (3L, "srcA", words("c", 12, 3) + " " + footer),
      (4L, "srcA", header + " " + words("d", 12, 4)),
      // srcB: interior duplicate only — both docs contain the same
      // 16-token middle run, but heads/tails are distinct: d7's
      // domain, must NOT appear as a boundary dup
      (10L, "srcB", words("e", 10, 5) + " " + interior + " " + words("f", 10, 6)),
      (11L, "srcB", words("g", 10, 7) + " " + interior + " " + words("h", 10, 8)),
      // srcC: the same footer||header adjacency as srcA — cross-source
      // occurrences of the SAME window must count into one hash
      (20L, "srcC", words("i", 12, 9) + " " + footer),
      (21L, "srcC", header + " " + words("j", 12, 10)))
      .toDF("doc_id", "source", "text")
    val got = graft.operators.TextQueries.packBoundarySpans(rows).collect()
    assert(got.length == 1, s"expected exactly the footer||header window: ${got.toSeq}")
    val r = got.head
    assert(r.getAs[Long]("n_occurrences") == 3L) // 1→2, 3→4, 20→21
    assert(r.getAs[Long]("n_sources") == 2L)     // srcA, srcC
    assert(r.getAs[Long]("min_doc_id") == 2L)    // boundary row carries the RIGHT doc
    // the hash is of the straddling window itself
    val wantHash = rows.sparkSession.range(1)
      .select(md5(lit(footer + " " + header))).head.getString(0)
    assert(r.getAs[String]("window_hash") == wantHash)
  }
}
