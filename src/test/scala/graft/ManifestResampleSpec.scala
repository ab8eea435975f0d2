package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{PipelineQueries, SampleQueries}

/** Semantics of the round-12 operators: the p3 curation manifest (the
  * per-document decision lineage behind p1) and the c7 temperature
  * resampler (computed-rate multilingual rebalancing).
  */
class ManifestResampleSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"

  test("p3 statuses partition the corpus and kept rows equal p1's audit") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val manifest = PipelineQueries.pManifest.fn(spark, dir).cache()
    try {
      // every doc gets exactly one status, and only legal statuses occur
      assert(manifest.count() == docs.count())
      assert(manifest.select("doc_id").distinct().count() == docs.count())
      val legal = Set("dropped_duplicate", "held_out_eval", "dropped_quality",
        "dropped_contaminated", "kept_train", "kept_val", "kept_test")
      val got = manifest.select("status").distinct().collect().map(_.getString(0)).toSet
      assert(got.subsetOf(legal), s"illegal statuses: ${got -- legal}")

      // the kept rollup IS p1's audit (same stage definitions by
      // construction — this asserts the composition didn't drift)
      val keptRollup = manifest
        .filter(col("status").startsWith("kept_"))
        .groupBy(col("source"), regexp_replace(col("status"), "^kept_", "").as("split"))
        .agg(count(lit(1)).as("n_docs"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val p1Audit = PipelineQueries.pCuration.fn(spark, dir)
        .select(col("source"), col("split"), col("n_docs"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(keptRollup == p1Audit)
    } finally manifest.unpersist()
  }

  test("p3 precedence: duplicate beats eval beats quality on a constructed corpus") {
    import spark.implicits._
    // long high-quality text passing all five t9 rules (30..1000 tokens,
    // mean word len 3..10, >=2 stopwords, no dominant token, low bigram rep)
    val good = (1 to 40).map(i => s"the word$i and term$i of item$i").mkString(" ")
    val good2 = (1 to 40).map(i => s"the name$i and part$i of unit$i").mkString(" ")
    val rows = Seq(
      (1L, good, "s", "en", good.length.toLong),        // canonical copy
      (2L, good, "s", "en", good.length.toLong),        // exact duplicate -> dropped_duplicate
      (37L, good2, "s", "en", good2.length.toLong),     // eval id (37|id) -> held_out_eval
      (74L, "short text", "s", "en", 10L),              // eval AND low-quality -> eval wins
      (3L, "tiny", "s", "en", 4L))                      // fails quality floor
    val df = rows.toDF("doc_id", "text", "source", "lang", "n_chars")
    val m = PipelineQueries.curationManifestOf(df)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(m(2L) == "dropped_duplicate")
    assert(m(37L) == "held_out_eval")
    assert(m(74L) == "held_out_eval")
    assert(m(3L) == "dropped_quality")
    assert(m(1L).startsWith("kept_") || m(1L) == "dropped_contaminated")
  }

  test("p4 release write: manifest reproduces across rewrites and layouts, and matches the logical frame") {
    import graft.sources.ReleaseWriter
    val released = PipelineQueries.releasedDocs(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val logical = rows(ReleaseWriter.manifestOf(released))
    assert(logical.nonEmpty, "empty release — test is vacuous")

    val out = tempDir("graft_rel_spec") + "/rel"
    val first = rows(ReleaseWriter.writeRelease(released, out))
    // the manifest comes from the WRITTEN files and equals the logical frame
    assert(first == logical)
    // a rewrite reproduces it bit-for-bit
    assert(rows(ReleaseWriter.writeRelease(released, out)) == first)
    // and an adversarial input layout + a different file layout cannot
    // change it (content-keyed buckets, order-invariant digest) — a
    // tiny targetFileBytes forces a multi-file relayout
    assert(rows(ReleaseWriter.writeRelease(
      released.repartition(13), out, targetFileBytes = 64L << 10)) == first)
    // a corrupted release (one doc dropped) is CAUGHT by the manifest
    val tampered = ReleaseWriter.manifestOf(
      released.filter(col("doc_id") =!= released.select(min("doc_id"))
        .head().getLong(0)))
    assert(rows(tampered) != first, "manifest failed to detect a dropped row")
  }

  test("p4 file layout derives from data, and per-file digests verify file-granular integrity") {
    import graft.sources.ReleaseWriter
    // the sizing rule itself: ceil(totalChars / target), floor 1
    assert(ReleaseWriter.nRangeFilesFor(0L, 1000L) == 1)
    assert(ReleaseWriter.nRangeFilesFor(1000L, 1000L) == 1)
    assert(ReleaseWriter.nRangeFilesFor(1001L, 1000L) == 2)
    assert(ReleaseWriter.nRangeFilesFor(10L * (512L << 20), ReleaseWriter.DefaultTargetFileBytes) == 10)

    val released = PipelineQueries.releasedDocs(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val out = tempDir("graft_relf_spec") + "/rel"
    // tiny target -> the rule forces a multi-file layout on this corpus
    ReleaseWriter.writeRelease(released, out, targetFileBytes = 64L << 10)
    val read = () => spark.read.parquet(out)
    val fm1 = rows(ReleaseWriter.fileManifestOf(read()))
    assert(fm1.size > 1, "target of 64KiB must yield multiple files on this corpus")
    assert(fm1.forall(_(1).asInstanceOf[String].startsWith("split=")),
      "file keys must be outDir-relative (travel with the release)")
    // file rows roll up EXACTLY to the aggregate manifest totals
    val agg = rows(ReleaseWriter.manifestOf(read()))
    assert(fm1.map(_(2).asInstanceOf[Long]).sum == agg.map(_(2).asInstanceOf[Long]).sum)
    assert(fm1.map(_(4).asInstanceOf[Long]).sum == agg.map(_(4).asInstanceOf[Long]).sum,
      "per-file digests must sum to the aggregate digest total")
    // a rewrite (relayout from a different input partitioning)
    // reproduces the per-file rows bit-for-bit — deterministic layout
    ReleaseWriter.writeRelease(released.repartition(7), out, targetFileBytes = 64L << 10)
    assert(rows(ReleaseWriter.fileManifestOf(read())) == fm1,
      "per-file manifest must reproduce across a rewrite")
    // a damaged FILE is caught by ITS row (file-granular, not just the
    // release-wide aggregate): replace one file with a valid parquet
    // missing one row, staged OUTSIDE the release dir so the read-back
    // never lists the staging files
    val victim = fm1.head(1).asInstanceOf[String] // stable key: split=<s>/part-NNNNN
    val victimDir = java.nio.file.Paths.get(out, victim).getParent
    val ordinal = victim.split("/").last
    val victimPath = victimDir.toFile.listFiles()
      .find(f => f.getName.startsWith(ordinal + "-") && f.getName.endsWith(".parquet"))
      .get.toPath
    val stage = tempDir("graft_relf_tamper")
    val keep = spark.read.parquet(victimPath.toString)
    val minId = keep.agg(min("doc_id")).head().getLong(0)
    keep.filter(col("doc_id") =!= minId).coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, victimPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the Hadoop local-FS checksum sidecar the copy just made
    // stale (a real attacker/bitrot wouldn't leave one either)
    java.nio.file.Files.deleteIfExists(
      victimPath.resolveSibling("." + victimPath.getFileName + ".crc"))
    val fmBad = rows(ReleaseWriter.fileManifestOf(read()))
    val badRow = fmBad.find(_(1) == victim)
    val goodRow = fm1.find(_(1) == victim)
    assert(badRow != goodRow, "a tampered file must change its own manifest row")
    assert(fmBad.filter(_(1) != victim).toSet == fm1.filter(_(1) != victim).toSet,
      "tampering one file must not disturb other files' rows")
  }

  test("p5 dataset card agrees with p1's audit and covers every released doc") {
    val card = PipelineQueries.pReleaseReport.fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val audit = PipelineQueries.pCuration.fn(spark, dir)
      .groupBy("split").agg(sum("n_docs").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(card == audit, s"card split counts $card != audit $audit")
    assert(card.values.sum > 0, "empty release — test is vacuous")
  }

  test("p5b card matches p5 on everything but the token denomination") {
    val p5 = PipelineQueries.pReleaseReport.fn(spark, dir).collect()
      .map(r => r.getAs[String]("split") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
          r.getAs[Double]("mean_quality"), r.getAs[Long]("n_langs"),
          r.getAs[String]("top_lang"), r.getAs[Double]("top_lang_share"))).toMap
    val p5b = graft.operators.SubwordQueries.pReleaseReportBpe.fn(spark, dir)
      .collect()
      .map(r => r.getAs[String]("split") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens_ws"),
          r.getAs[Long]("total_tokens_bpe"),
          r.getAs[Double]("mean_quality"), r.getAs[Long]("n_langs"),
          r.getAs[String]("top_lang"), r.getAs[Double]("top_lang_share"))).toMap
    assert(p5.keySet == p5b.keySet && p5.nonEmpty)
    p5.foreach { case (s, (nd, tws, mq, nl, tl, tls)) =>
      val (nd2, tws2, tbpe, mq2, nl2, tl2, tls2) = p5b(s)
      assert(nd == nd2 && mq == mq2 && nl == nl2 && tl == tl2 && tls == tls2,
        s"split $s: non-token card fields drifted")
      assert(tws == tws2, s"split $s: ws totals must agree with p5")
      // the trainer-billed total materially exceeds the ws total —
      // the number a ws-denominated card misreports
      assert(tbpe.toDouble / tws > 1.3,
        s"split $s: subword/ws ratio ${tbpe.toDouble / tws} too tame")
    }
  }

  test("p5c domain mix rolls up exactly to p5's per-split card") {
    val p5 = PipelineQueries.pReleaseReport.fn(spark, dir).collect()
      .map(r => r.getAs[String]("split") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"))).toMap
    val mix = PipelineQueries.pDomainMix.fn(spark, dir).collect()
      .map(r => (r.getAs[String]("split"), r.getAs[String]("domain"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
        r.getAs[Double]("doc_share"), r.getAs[Double]("token_share")))
    assert(mix.nonEmpty)
    val rollup = mix.groupBy(_._1).view.mapValues(rs =>
      (rs.map(_._3).sum, rs.map(_._4).sum)).toMap
    assert(rollup == p5, s"domain mix rollup $rollup != p5 card $p5")
    // shares sum to ~1 per split and every domain is a valid eTLD+1
    mix.groupBy(_._1).foreach { case (s, rs) =>
      assert(math.abs(rs.map(_._5).sum - 1.0) < 1e-3, s"$s doc shares")
      assert(math.abs(rs.map(_._6).sum - 1.0) < 1e-3, s"$s token shares")
    }
    assert(mix.forall(_._2.count(_ == '.') <= 2))
    assert(mix.exists(_._2.endsWith(".co.uk")))
  }

  test("c7 temperature-flattens the language mix and is layout-invariant") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val natural = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val kept = SampleQueries.cMixResample.fn(spark, dir).cache()
    try {
      val keptN = kept.groupBy("lang").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val total = natural.values.sum.toDouble
      val keptTotal = keptN.values.sum.toDouble
      // direction: the head language's share must SHRINK, the rarest
      // language's share must GROW (tau = 0.5 flattening)
      val head = natural.maxBy(_._2)._1
      val tail = natural.minBy(_._2)._1
      assert(keptN(head) / keptTotal < natural(head) / total,
        s"head lang $head share did not shrink")
      assert(keptN(tail) / keptTotal > natural(tail) / total,
        s"tail lang $tail share did not grow")
      // realized counts track the tau-weighted targets within binomial
      // noise (4 sigma)
      val z = natural.values.map(n => math.sqrt(n.toDouble)).sum
      val t = math.floor(total / 2)
      natural.foreach { case (l, n) =>
        val rate = math.min(1.0, math.sqrt(n.toDouble) / z * t / n)
        val sigma = math.sqrt(n * rate * (1 - rate))
        assert(math.abs(keptN(l) - n * rate) <= 4 * sigma + 1,
          s"$l kept ${keptN(l)} vs target ${n * rate}")
      }
      // determinism across partition layouts: membership is content-keyed
      val before = kept.select("doc_id").collect().map(_.getLong(0)).toSet
      val relaid = SampleQueries.cMixResample.fn(spark, dir)
        .repartition(13).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(before == relaid)
    } finally kept.unpersist()
  }
}
