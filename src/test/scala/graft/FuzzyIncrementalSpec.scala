package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupQueries, PipelineQueries, Scaffold, UrlQueries}
import graft.operators.PipelineQueries.FuzzyMineParams
import graft.sources.{IncrementalRelease, IndexStore, Tables}

/** p12 (r19/r20): the incremental fuzzy release's stored-fed day-N
  * stage assembly and the fuzzy-mine index FOLD. The DuckDB oracle
  * proves the END of the composition (delta-published manifest ≡
  * from-scratch p9 publish of corpus ∪ increment); what it cannot
  * state is that each STORED-FED STAGE frame equals its re-mined twin
  * — the algebra the whole operator rests on: URL keepers probed not
  * re-elected, text hashes anti-joined not re-shuffled, gram postings
  * probed not re-shingled, the stored pair table unioned not re-mined,
  * and (r20) day-1 TEXT re-entered from the published artifact + the
  * stored canon remainder, never the raw corpus. Pinned here on a
  * fixture that PLANTS every cross-boundary shape (the real testdata
  * has no cross-boundary exact dup below sf0.1), once more on the real
  * sf0.001 scaffold, and — for the day-N fold ([[PipelineQueries.
  * appendFuzzyMineIndex]], the r19 verdict's #1) — across a THREE-day
  * chain whose day-3 dups exist only against day-2's folded increment.
  */
class FuzzyIncrementalSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def mkDocs(rows: Seq[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "url")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars", "url")
  }

  /** A text that PASSES t9's quality battery (30–1000 tokens, ≥2
    * stopwords, avg word length in [3,10], no token/bigram repetition)
    * with per-doc-unique payload words, COLLISION-FREE at the 4-char
    * gram level: each word is a 6-char md5-derived per-doc tag + a
    * 2-letter per-position code, so every gram contains doc-tag chars
    * and cross-doc 4-gram Jaccard stays far under the 0.4 threshold.
    * (An earlier numeric scheme — k<docIdx*1000+i*17> — shared
    * digit-suffix grams like "017 " across docs and pushed UNPLANNED
    * pairs past the threshold, which made day-2 docs lose keep-best
    * elections to day-1 docs and silently emptied the planted release
    * delta — caught by the r20 fold gate; a low-entropy letter
    * encoding had the same flaw through runs of 'a's.) Near-dups are
    * PLANTED by suffixing a shared base. */
  private def docTag(i: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(6)
  private def qualText(docIdx: Long, extra: String = ""): String =
    "the quick " + (0 until 36).map(i =>
        docTag(docIdx) + ('a' + i % 6).toChar + ('a' + i / 6).toChar)
      .mkString(" ") + " of and" + (if (extra.isEmpty) "" else " " + extra)

  // day-1 corpus: two of its docs form a near-dup pair (10, 11); the
  // rest are distinct. All ids < the 250 probe bound, so every day-1
  // canonical doc is probe-side — the p12 monotone-id geometry.
  // 20/21 carry quality-passing text so the day-1 RELEASE (the
  // artifact day-2 re-enters from) is non-empty; everything else lands
  // in the stored canon remainder.
  private val base10 =
    "the shared corpus passage about spark engines and their shuffle behavior at scale"
  private val base12 =
    "another shared passage describing minhash banding and jaccard thresholds in detail"
  private def day1Rows: Seq[(Long, String, String)] =
    (0L to 9L).map(i =>
      (i, s"day one document $i carries its own distinct payload phrase $i$i$i",
        s"https://ex$i.com/p/$i")) ++
      Seq(
        (10L, base10, "https://ex10.com/p/10"),
        (11L, base10 + " v2", "https://ex11.com/p/11"),
        (12L, base12, "https://ex12.com/p/12")) ++
      (13L to 19L).map(i =>
        (i, s"closing day one document $i with marker $i$i$i and padding words",
          s"https://ex$i.com/p/$i")) ++
      Seq(
        (20L, qualText(20L), "https://ex20.com/p/20"),
        (21L, qualText(21L), "https://ex21.com/p/21"))

  // increment: ids ≥ 400 (≥ the probe bound, > all day-1 ids — the
  // monotone-crawl-id contract), planting every cross-boundary shape
  private def incRows: Seq[(Long, String, String)] = Seq(
    // cross-boundary EXACT text dup of day-1 doc 5 → the stored
    // text-hash anti-join must drop it
    (400L, s"day one document 5 carries its own distinct payload phrase 555",
      "https://ex400.com/p/400"),
    // cross-boundary NEAR-dup of day-1 doc 12 → must be found by the
    // stored-postings probe, never by re-shingling day-1
    (401L, base12 + " appended tail", "https://ex401.com/p/401"),
    // increment-internal exact text dup → local canon keeps min id
    (402L, "increment internal duplicate payload text appears twice today",
      "https://ex402.com/p/402"),
    (403L, "increment internal duplicate payload text appears twice today",
      "https://ex403.com/p/403"),
    // cross-boundary URL dup (canonicalizes to day-1 doc 3's address)
    // → the stored keeper probe must drop it (dup_of_stored)
    (404L, "text unique to doc 404 but its address already shipped yesterday",
      "HTTPS://WWW.EX3.COM:443/p/3/"),
    // increment-internal URL dup → min batch id keeps (dup_in_batch)
    (405L, "first fetch of a brand new address in today's crawl batch",
      "https://ex405.com/p/405?utm_source=feed"),
    (406L, "second fetch of that same new address under a surface variant",
      "https://www.ex405.com/p/405"),
    (407L, "a plainly unique increment document with nothing shared at all",
      "https://ex407.com/p/407"))

  private def freshPaths(): (String, String, String) = {
    val tmp = tempDir("graft_fuzzyincr")
    (s"$tmp/url", s"$tmp/fz", s"$tmp/rel")
  }

  /** Day-1 init + publish, then the day-2 stored-fed assembly — the
    * QueryDef's exact flow — plus the from-scratch twin. */
  private def assembleAndTwin(day1: DataFrame, inc: DataFrame)
      : (Seq[Long], Seq[Long], Seq[(Long, Long, Double)], Seq[(Long, Long, Double)]) = {
    val (urlPath, fzPath, root) = freshPaths()
    UrlQueries.initStoredUrlIndex(spark, urlPath,
      day1.select(col("doc_id"), col("url")))
    PipelineQueries.initFuzzyMineIndex(spark, fzPath, day1)
    def tbl(n: String) = IndexStore.readSwappable(spark, fzPath, n)
    val canon1 = day1.drop("url").join(tbl("canonids"), "doc_id")
    IncrementalRelease.publishFull(PipelineQueries.fuzzyReleasedByGrams(
      tbl("evalgrams"), canon1, tbl("pairs")), root)
    val asm = PipelineQueries.fuzzyStoredAssembly(spark, urlPath, fzPath, root, inc)
    val all = day1.unionByName(inc)
    val canonFS =
      PipelineQueries.exactCanonOf(UrlQueries.urlCanonOf(all).drop("url"))
    val pairsFS = DedupQueries.ngramPairsOf(canonFS, threshold = 0.4,
      probeBound = 250L, corpusBound = 500L)
    (ids(asm.canon), ids(canonFS), ps(asm.pairs), ps(pairsFS))
  }

  private def ids(df: DataFrame) =
    df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
  private def ps(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    .sortBy(p => (p._1, p._2)).toSeq

  test("stored-fed day-2 assembly equals the from-scratch re-mine on the planted fixture") {
    val (c2, cFS, p2, pFS) = assembleAndTwin(mkDocs(day1Rows), mkDocs(incRows))
    assert(c2 == cFS, "stored-fed canonical set must equal the from-scratch canon")
    assert(p2 == pFS, "stored ∪ probed pair set must equal the full re-mine")
    // each planted cross-boundary shape actually fired:
    assert(!c2.contains(400L),
      "cross-boundary exact dup must be dropped by the stored text-hash stage")
    assert(c2.contains(402L) && !c2.contains(403L),
      "increment-internal exact dup must resolve to the min id locally")
    assert(!c2.contains(404L),
      "cross-boundary URL dup must be dropped by the stored keeper probe")
    assert(c2.contains(405L) && !c2.contains(406L),
      "increment-internal URL dup must resolve to the min batch id")
    assert(p2.exists(p => p._1 == 12L && p._2 == 401L),
      "cross-boundary near-dup pair must surface from the stored-postings probe")
    assert(p2.exists(p => p._1 == 10L && p._2 == 11L),
      "the day-1 pair must carry over from the stored pair table")
  }

  test("increment probe alone never returns day-1-internal pairs") {
    val day1 = mkDocs(day1Rows)
    val (_, fzPath, _) = freshPaths()
    PipelineQueries.initFuzzyMineIndex(spark, fzPath, day1)
    val incCanon = PipelineQueries.exactCanonOf(
      UrlQueries.urlCanonOf(mkDocs(incRows)).drop("url"))
    val probed = DedupQueries.ngramPairsIncrementalStored(
        IndexStore.readSwappable(spark, fzPath, "postings"),
        storedMaxId = 21L, incCanon, threshold = 0.4, probeBound = 250L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probed.nonEmpty && probed.forall(_._2 >= 400L),
      s"probe must only emit increment-touching pairs, got $probed")
  }

  test("incremental probe fail-stops on a monotone-id contract violation") {
    val day1 = mkDocs(day1Rows)
    val (_, fzPath, _) = freshPaths()
    PipelineQueries.initFuzzyMineIndex(spark, fzPath, day1)
    val incCanon = PipelineQueries.exactCanonOf(
      UrlQueries.urlCanonOf(mkDocs(incRows)).drop("url"))
    // an increment claiming ids BELOW the stored max would silently
    // lose (a∈increment, b∈stored) pairs — the probe must refuse
    val e = intercept[IllegalArgumentException] {
      DedupQueries.ngramPairsIncrementalStored(
        IndexStore.readSwappable(spark, fzPath, "postings"),
        storedMaxId = 401L, incCanon, threshold = 0.4, probeBound = 250L)
    }
    assert(e.getMessage.contains("monotone"), e.getMessage)
  }

  test("testdata sf0.001: stored-fed assembly equals from-scratch, with a live dup_of_stored slice") {
    val docs = Tables.documents(spark, dir)
      .withColumn("url", Scaffold.messyUrlFunnel)
    val day1 = docs.filter(col("doc_id") < 400L)
    val inc = docs.filter(col("doc_id") >= 400L)
    val (c2, cFS, p2, pFS) = assembleAndTwin(day1, inc)
    assert(c2 == cFS)
    assert(p2 == pFS)
    assert(p2.nonEmpty, "no pairs at all on sf0.001 — vacuous")
    // the far-collision scaffold class: id 450 shares page 50 with
    // day-1 keeper 50, so the stored keeper probe must drop it
    assert(c2.contains(50L) && !c2.contains(450L),
      "scaffold far collision (450 → keeper 50) must be a dup_of_stored drop")
  }

  test("steady-state day-2 trace scans only the published artifact + index store (r19 verdict #2)") {
    // the L83 executed-trace gate applied to p12's day-2: day-1 TEXT
    // must re-enter from the release pool + the stored canon remainder
    // — ZERO raw-corpus FileSourceScan. The increment arrives as its
    // own files (production shape), written to a tmp dir here.
    val docs = Tables.documents(spark, dir)
      .withColumn("url", Scaffold.messyUrlFunnel)
    val day1 = docs.filter(col("doc_id") < 400L)
    val (urlPath, fzPath, root) = freshPaths()
    val incDir = root + "_incoming"
    docs.filter(col("doc_id") >= 400L).write.parquet(incDir)
    val inc = spark.read.parquet(incDir)
    UrlQueries.initStoredUrlIndex(spark, urlPath,
      day1.select(col("doc_id"), col("url")))
    PipelineQueries.initFuzzyMineIndex(spark, fzPath, day1)
    def tbl(n: String) = IndexStore.readSwappable(spark, fzPath, n)
    val canon1 = day1.drop("url").join(tbl("canonids"), "doc_id")
    IncrementalRelease.publishFull(PipelineQueries.fuzzyReleasedByGrams(
      tbl("evalgrams"), canon1, tbl("pairs")), root)
    val roots = org.apache.spark.sql.graft.Bridge.scannedFileRoots(spark) {
      val asm = PipelineQueries.fuzzyStoredAssembly(spark, urlPath, fzPath, root, inc)
      PipelineQueries.fuzzyReleasedByGrams(
        PipelineQueries.fuzzyStoredEvalGrams(spark, fzPath, inc),
        asm.canon, asm.pairs).collect()
    }
    // positive evidence first (the PlanAuditSpec discipline): an
    // under-captured trace must fail here, never pass by omission
    assert(roots.exists(_.contains("/rel")),
      s"day-2 trace shows no release-pool scan — capture broken?\n${roots.mkString("\n")}")
    assert(roots.exists(_.contains("/fz")),
      s"day-2 trace shows no index-store scan — capture broken?\n${roots.mkString("\n")}")
    val raw = roots.filter(_.contains("/root/testdata"))
    assert(raw.isEmpty,
      s"day-2 steady state rescans the raw corpus: ${raw.mkString(", ")}")
  }

  test("three-day fold chain: day-3 stored-fed equals the from-scratch re-mine of all three days") {
    // the r19 verdict's #1 — the fuzzy-mine index now has the append
    // lifecycle every sibling family has. Growing-bound universe
    // (probe bound ∞): every ingested canonical doc is probe-side for
    // future increments, so day-2-internal pairs and day-3-vs-day-2
    // pairs both EXIST and must be found without re-mining anything.
    val P = FuzzyMineParams(threshold = 0.4,
      probeBound = Long.MaxValue, corpusBound = Long.MaxValue)
    val day1 = mkDocs((0L to 5L).map(i =>
      (i, qualText(i), s"https://threeday$i.com/p/$i")) :+
      (6L, qualText(2L, "planted trailing marker"), "https://threeday6.com/p/6"))
    val inc2 = mkDocs(Seq(
      (400L, qualText(400L), "https://threeday400.com/p/400"),
      (401L, qualText(401L), "https://threeday401.com/p/401"),
      // day-2 INTERNAL near-dup pair (both sides under the ∞ probe
      // bound) — the generalized incremental probe must emit it
      (402L, qualText(401L, "second fetch variant words"),
        "https://threeday402.com/p/402"),
      // cross-boundary exact dup of day-1 doc 1
      (403L, qualText(1L), "https://threeday403.com/p/403"),
      // cross-boundary URL dup of day-1 doc 2
      (404L, qualText(404L), "HTTPS://WWW.THREEDAY2.COM:443/p/2/")))
    val inc3 = mkDocs(Seq(
      (800L, qualText(800L), "https://threeday800.com/p/800"),
      // near-dup ONLY against day-2's folded increment (doc 400) —
      // without the fold, day-3 has nothing exact to probe for this
      (801L, qualText(400L, "closing extra words"),
        "https://threeday801.com/p/801"),
      // exact dup of a day-2 text → needs the FOLDED text hashes
      (802L, qualText(401L), "https://threeday802.com/p/802"),
      // URL dup of a day-2 address → needs the FOLDED URL keepers
      (803L, qualText(803L), "https://www.threeday400.com/p/400/"),
      // near-dup of a day-1 doc — still found across the fold
      (804L, qualText(2L, "other ending entirely"),
        "https://threeday804.com/p/804")))
    val (urlPath, fzPath, root) = freshPaths()
    UrlQueries.initStoredUrlIndex(spark, urlPath,
      day1.select(col("doc_id"), col("url")))
    PipelineQueries.initFuzzyMineIndex(spark, fzPath, day1, P)
    def tbl(n: String) = IndexStore.readSwappable(spark, fzPath, n)
    val canon1 = day1.drop("url").join(tbl("canonids"), "doc_id")
    IncrementalRelease.publishFull(PipelineQueries.fuzzyReleasedByGrams(
      tbl("evalgrams"), canon1, tbl("pairs")), root)
    // ---- day 2: assemble, publish, FOLD --------------------------------
    val asm2 = PipelineQueries.fuzzyStoredAssembly(
      spark, urlPath, fzPath, root, inc2, P)
    assert(ps(asm2.incPairs).exists(p => p._1 == 401L && p._2 == 402L),
      "day-2-internal near-dup pair must come from the generalized probe")
    val rel2 = PipelineQueries.fuzzyReleasedByGrams(
      PipelineQueries.fuzzyStoredEvalGrams(spark, fzPath, inc2),
      asm2.canon, asm2.pairs)
    // vacuity guard: the planted day-2 docs must actually RELEASE
    // (the r20 fixture bug: unplanned gram collisions made every
    // increment doc lose its election and the delta was empty)
    assert(ids(rel2).exists(_ >= 400L),
      s"no day-2 doc released — fixture degenerated: ${ids(rel2)}")
    // folding BEFORE the day's publish must fail-stop: canonrest would
    // be rewritten against a release day-3 never re-enters from
    val pre = intercept[IllegalArgumentException] {
      PipelineQueries.appendFuzzyMineIndex(spark, fzPath, root, asm2, inc2, rel2, P)
    }
    assert(pre.getMessage.contains("publishDelta"), pre.getMessage)
    IncrementalRelease.publishDelta(rel2, root)
    PipelineQueries.appendFuzzyMineIndex(spark, fzPath, root, asm2, inc2, rel2, P)
    UrlQueries.appendUrlKeepersTagged(spark, urlPath,
      inc2.select(col("doc_id"), col("url")), tag = "day2")
    // a double fold is a pipeline bug — the monotone gate must refuse
    val e = intercept[IllegalArgumentException] {
      PipelineQueries.appendFuzzyMineIndex(spark, fzPath, root, asm2, inc2, rel2, P)
    }
    assert(e.getMessage.contains("monotone"), e.getMessage)
    // ---- day 3: assemble against corpus ∪ day-2, zero recomputation ----
    val asm3 = PipelineQueries.fuzzyStoredAssembly(
      spark, urlPath, fzPath, root, inc3, P)
    val rel3 = PipelineQueries.fuzzyReleasedByGrams(
      PipelineQueries.fuzzyStoredEvalGrams(spark, fzPath, inc3),
      asm3.canon, asm3.pairs)
    // ---- from-scratch twin over all three days --------------------------
    val all = day1.unionByName(inc2).unionByName(inc3)
    val canonFS =
      PipelineQueries.exactCanonOf(UrlQueries.urlCanonOf(all).drop("url"))
    val pairsFS = DedupQueries.ngramPairsOf(canonFS, threshold = P.threshold,
      probeBound = P.probeBound, corpusBound = P.corpusBound)
    val relFS = PipelineQueries.fuzzyReleasedByGrams(
      PipelineQueries.evalGramsOf(all), canonFS, pairsFS)
    val c3 = ids(asm3.canon)
    val p3 = ps(asm3.pairs)
    assert(c3 == ids(canonFS),
      "day-3 stored-fed canon must equal the three-day from-scratch canon")
    assert(p3 == ps(pairsFS),
      "day-3 stored ∪ probed pairs must equal the three-day re-mine")
    def relRows(df: DataFrame) = df.select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(relRows(rel3) == relRows(relFS),
      "day-3 release must equal the from-scratch three-day release")
    // each planted fold-dependent shape actually fired:
    assert(p3.exists(p => p._1 == 400L && p._2 == 801L),
      "near-dup that exists ONLY against day-2's folded increment must surface")
    assert(!c3.contains(802L),
      "exact dup of a day-2 text must be dropped by the FOLDED hash table")
    assert(!c3.contains(803L),
      "URL dup of a day-2 address must be dropped by the FOLDED keeper table")
    assert(p3.exists(p => p._1 == 2L && p._2 == 804L),
      "near-dup against day-1 must still surface across the fold")
    assert(p3.exists(p => p._1 == 2L && p._2 == 6L),
      "the day-1-internal pair must carry through both folds")
  }
}
