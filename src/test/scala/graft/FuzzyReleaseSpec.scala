package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupClusters, DedupQueries, PipelineQueries, Scaffold, UrlQueries}
import graft.sources.Tables

/** p9 (r18): fuzzy dedup composed into the release funnel. The DuckDB
  * oracle hash-matches the d4-fed QueryDef end to end; what it cannot
  * state is (a) that the composition equals CHAINING the standalone
  * operators (d2 pairs → d6 components → d11 keep-best election) — the
  * wiring risk: staging, join-back, column drift — and (b) that the
  * LSH-fed PRODUCTION variant (MinHash pairs, no SQL analogue) slots
  * into the same funnel. Both pinned here.
  */
class FuzzyReleaseSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private val stageNames = Seq("raw", "url_deduped", "exact_canonical",
    "fuzzy_deduped", "quality_gated", "heldout_dropped", "released")

  test("LSH-fed production variant: funnel stages equal chained standalone d14→canon→d2→d6→d11") {
    val docs = Tables.documents(spark, dir)
      .withColumn("url", Scaffold.messyUrlFunnel)
    // the chained standalone operators, composed BY HAND the way their
    // standalone QueryDefs run them: d14's canonical-URL election,
    // exact canon, d2's pair miner over the canonical set, d6's
    // connected components, d11's keep-best election
    val urlKept = UrlQueries.urlCanonOf(docs).drop("url")
    val canon = PipelineQueries.exactCanonOf(urlKept)
    val chained = DedupClusters.keepBest(canon,
        DedupClusters.connectedComponents(
          DedupQueries.minHashPairs(canon).select("a", "b")))
      .filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val funnel = PipelineQueries.fuzzyReleaseFunnelOf(
        docs, c => DedupQueries.minHashPairs(c))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(funnel.map(_._2) == stageNames)
    assert(funnel.map(_._3).sliding(2).forall(p => p.head >= p.last),
      s"funnel counts must be non-increasing: $funnel")
    assert(funnel.map(_._4).sliding(2).forall(p => p.head >= p.last),
      s"funnel token counts must be non-increasing: $funnel")
    assert(funnel(1)._3 == urlKept.count(),
      "the composed URL stage must keep exactly d14's election")
    val canonN = canon.count()
    assert(funnel(2)._3 == canonN)
    assert(funnel(3)._3 == chained.length,
      "the composed fuzzy stage must keep exactly the chained d2→d6→d11 keep set")
    assert(chained.length < canonN,
      "LSH found no near-dups to drop on the fixture — test is vacuous")
  }

  test("d4-fed QueryDef variant: url and fuzzy drops reported distinctly from exact drops") {
    val rows = SparkEntry.queries("p9_fuzzy_release_funnel")(spark, dir)
      .collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val urlDrops = rows("raw") - rows("url_deduped")
    val exactDrops = rows("url_deduped") - rows("exact_canonical")
    val fuzzyDrops = rows("exact_canonical") - rows("fuzzy_deduped")
    assert(urlDrops > 0 && exactDrops >= 0 && fuzzyDrops > 0,
      s"url and fuzzy stages must drop docs on the fixture " +
        s"(url=$urlDrops exact=$exactDrops fuzzy=$fuzzyDrops)")
    assert(rows("released") > 0, "the funnel released nothing — vacuous")
  }
}
