package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Session-residue regression net: executing the stateful queries (SQL
  * temp view in q26, memoized/checkpointed dedup frames, the IVF
  * driver-side fit) must leave the SparkSession exactly as found — no
  * leaked temp views, no CacheManager entries. Asserted as a DIFF
  * against the pre-existing session state so the spec composes with
  * other suites sharing the session (e.g. streaming memory sinks).
  */
class SessionHygieneSpec extends AnyFunSuite with SparkTestSession {

  test("stateful queries leave no temp views or cache entries behind") {
    val dir = "/root/testdata/sf0.001"
    val viewsBefore = spark.catalog.listTables().collect().map(_.name).toSet
    val cacheEmptyBefore = spark.sharedState.cacheManager.isEmpty

    for (q <- Seq("q26_correlated_scalar", "d2_minhash_lsh_pairs",
                  "d5_dedup_clusters", "d6_cluster_components",
                  "x1_decontamination", "v5_ivf_ann"))
      assert(SparkEntry.queries(q)(spark, dir).count() >= 0L, s"$q failed")

    val viewsAfter = spark.catalog.listTables().collect().map(_.name).toSet
    assert(viewsAfter == viewsBefore,
      s"leaked temp views: ${(viewsAfter -- viewsBefore).mkString(", ")}")
    if (cacheEmptyBefore)
      assert(spark.sharedState.cacheManager.isEmpty,
        "queries left entries in the session CacheManager")
  }
}
