package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SampleQueries

/** c10 per-source cap / epoch planner invariants the oracle hash alone
  * cannot vouch for: the cap binds per source, the two-phase rank
  * equals the naive full window, the capped set composes with (is a
  * subset of) the c7 resample, the epoch clamp is exact, and the
  * result is partition-layout-invariant.
  */
class SourceCapSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"
  private val (nCap, target, maxEp) = (8, 1000L, 4)

  private lazy val docs = graft.sources.Tables.documents(spark, dir)
  private lazy val got = SampleQueries.sourceCapOf(docs, nCap, target, maxEp)
    .collect()
    .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("cap_rank"), r.getAs[Long]("n_tokens"),
      r.getAs[Long]("kept_tokens"), r.getAs[Long]("n_epochs")))

  test("cap binds per source: <= nCap rows, exactly nCap when the resample offers enough") {
    assert(got.nonEmpty)
    val resampleSizes = SampleQueries.mixResampleOf(docs)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySource = got.groupBy(_._1)
    assert(bySource.exists(_._2.length == nCap),
      "fixture never binds the cap — test is vacuous")
    bySource.foreach { case (src, rows) =>
      assert(rows.length <= nCap, s"$src exceeds the cap")
      assert(rows.length == math.min(nCap.toLong, resampleSizes(src)),
        s"$src: cap kept ${rows.length} of ${resampleSizes(src)} offered")
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"$src: cap_rank not contiguous from 1")
    }
  }

  test("two-phase cap equals the naive full-window rank on the salted draw") {
    val w = Window.partitionBy("source")
      .orderBy(md5(concat(lit("cap:"), col("doc_id").cast("string"))), col("doc_id"))
    val want = SampleQueries.mixResampleKept(docs)
      .withColumn("cap_rank", row_number().over(w).cast("long"))
      .filter(col("cap_rank") <= nCap)
      .select("source", "doc_id", "cap_rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.map(t => (t._1, t._2, t._3)).toSet == want)
  }

  test("capped docs are a subset of the c7 resample (composition)") {
    val resampled = SampleQueries.mixResampleOf(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.map(_._2).toSet.subsetOf(resampled))
  }

  test("epoch plan is the exact clamp of the per-source token deficit") {
    got.groupBy(_._1).foreach { case (src, rows) =>
      val keptTokens = rows.map(_._4).sum
      assert(rows.forall(_._5 == keptTokens), s"$src: kept_tokens inconsistent")
      val wantEp = math.min(maxEp.toLong,
        math.max(1L, math.ceil(target.toDouble / keptTokens).toLong))
      assert(rows.forall(_._6 == wantEp),
        s"$src: n_epochs ${rows.head._6} != $wantEp for $keptTokens tokens")
    }
    // the fixture must exercise both a clamped and an unclamped source
    assert(got.exists(_._6 > 1L), "no source needed repetition — vacuous")
  }

  test("c12 epoch plan: exact c10 composition, contiguous positions, independent per-epoch reshuffle") {
    val plan = SampleQueries.epochShardPlanOf(docs, nCap, target, maxEp, nShards = 8)
      .collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("shard"), r.getAs[Long]("pos"),
        r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    assert(plan.nonEmpty)
    // composition: every c10 doc appears in EXACTLY its n_epochs epochs,
    // each epoch containing the full capped doc set
    val epochsBySource = got.groupBy(_._1).map { case (s, rows) => s -> rows.head._6 }
    val byDoc = plan.groupBy(_._4)
    assert(byDoc.keySet == got.map(_._2).toSet)
    byDoc.foreach { case (d, rows) =>
      val src = rows.head._5
      assert(rows.map(_._1).sorted.toSeq == (1L to epochsBySource(src)).toSeq,
        s"doc $d epochs wrong")
    }
    // positions contiguous from 1 per (epoch, shard)
    plan.groupBy(r => (r._1, r._2)).foreach { case (k, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq, s"$k positions")
    }
    // per-epoch reshuffle: some doc present in both epochs 1 and 2 must
    // change shard (P(all ~150 docs keep their shard) ≈ 8^-150)
    val e1 = plan.filter(_._1 == 1L).map(r => r._4 -> r._2).toMap
    val e2 = plan.filter(_._1 == 2L).map(r => r._4 -> r._2).toMap
    val both = e1.keySet & e2.keySet
    assert(both.nonEmpty, "no doc runs 2 epochs — fixture vacuous")
    assert(both.exists(d => e1(d) != e2(d)), "epochs are not reshuffled")
    // determinism across layouts
    val reparted = SampleQueries.epochShardPlanOf(docs.repartition(11), nCap, target, maxEp, 8)
      .collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("shard"), r.getAs[Long]("pos"),
        r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    assert(reparted.toSet == plan.toSet)
  }

  test("result is partition-layout-invariant") {
    val reparted = SampleQueries.sourceCapOf(docs.repartition(13), nCap, target, maxEp)
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("cap_rank"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("kept_tokens"), r.getAs[Long]("n_epochs")))
    assert(reparted.toSet == got.toSet)
  }

  // ---------------------------------------------------------------- c13

  test("registered-domain kernel: longest match, default rule, deep subdomains") {
    val rules = new graft.functions.SuffixRules(
      Array("ac.uk", "co.uk", "com.au", "au", "com", "de", "io", "net", "org", "uk"))
    def d(u: String): String = rules.registeredDomain(
      org.apache.spark.unsafe.types.UTF8String.fromString(u)).toString
    // multi-label suffix beats the 1-label match ('co.uk' over 'uk')
    assert(d("https://www.d7.co.uk/p/1") == "d7.co.uk")
    assert(d("https://cdn.news.d7.co.uk/p/1") == "d7.co.uk")
    assert(d("https://d7.com/p/1") == "d7.com")
    assert(d("https://blog.d7.com/") == "d7.com")
    // unknown TLD → PSL implicit '*' default: last two labels
    assert(d("https://www.d7.xyz/p/1") == "d7.xyz")
    assert(d("https://d7.xyz") == "d7.xyz")
    // host that IS a 2-label rule still yields itself via the 1-label rule
    assert(d("https://co.uk/x") == "co.uk")
    // single-label host falls through to the host itself
    assert(d("https://localhost/x") == "localhost")
    // no scheme: the whole prefix up to '/' is the host
    assert(d("d7.org/path") == "d7.org")
  }

  private lazy val domainCap = SampleQueries.cDomainCap.fn(spark, dir).collect()
    .map(r => (r.getAs[String]("domain"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("cap_rank"), r.getAs[Long]("n_tokens"),
      r.getAs[Long]("kept_tokens"), r.getAs[Long]("n_epochs")))

  test("c13 domain cap binds per registered domain and keys finer than source") {
    val byDomain = domainCap.groupBy(_._1)
    byDomain.foreach { case (dom, rows) =>
      assert(rows.length <= 4, s"$dom exceeds the domain cap")
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"$dom ranks not contiguous")
    }
    assert(byDomain.exists(_._2.length == 4), "cap never binds — fixture too tame")
    // the domain key is genuinely finer than the 20-source key
    assert(byDomain.size > 40, s"only ${byDomain.size} domains")
    // multi-label public suffixes survive extraction as eTLD+1
    assert(byDomain.keys.exists(_.endsWith(".co.uk")),
      "no co.uk registered domain — longest-match path unexercised")
    assert(byDomain.keys.forall(_.count(_ == '.') <= 2))
  }

  test("c13 composes with the c7 resample and is layout-invariant") {
    val kept = SampleQueries.cMixResample.fn(spark, dir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    domainCap.foreach { case (_, d, _, _, _, _) =>
      assert(kept.contains(d), s"doc $d capped but not in the c7 resample") }
    val viaRepartition = {
      val rules = new graft.functions.SuffixRules(
        SampleQueries.storedSuffixRules(spark, dir))
      val docs13 = graft.sources.Tables.documents(spark, dir).repartition(13)
        .withColumn("domain", graft.functions.DomainExpressions
          .registeredDomain(graft.operators.Scaffold.syntheticUrl, rules))
      SampleQueries.sourceCapOf(docs13, 4, 1000L, 4, keyCol = "domain").collect()
        .map(r => (r.getAs[String]("domain"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("cap_rank"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("kept_tokens"), r.getAs[Long]("n_epochs")))
    }
    assert(viaRepartition.toSet == domainCap.toSet,
      "domain cap must not depend on partition layout")
  }
}
