package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.PanelGenerator
import graft.stats.Battery

/** SURVEY.md §7.4.2: the reference encodes time by row position; the
  * engine must be invariant to row order and partitioning because the
  * cluster key is derived from explicit (t, user_id), not layout.
  */
class OrderInvarianceSpec extends AnyFunSuite with SparkTestSession {

  // the reference panel's shape: 800 users x 20 time points, dense ids
  private def panel = PanelGenerator.panel(spark, 2024L,
    PanelGenerator.Config(nInternal = 400, nExternal = 400))

  test("block cluster: dense-id fast path matches the rank-table fallback") {
    import graft.stats.FrameMoments
    // the generator guarantees dense user_id 1..n → the arithmetic
    // fast path engages (no rank table, no window, no broadcast); it
    // must assign every row the exact cluster the fallback would
    val info = FrameMoments.panelInfo(panel)
    assert(info.denseUserIds, "generator panel must be detected as dense")
    val fast = FrameMoments.withBlockCluster(panel, info)
      .select("user_id", "t", "__cluster")
    val slow = FrameMoments.withBlockCluster(panel, info.copy(denseUserIds = false))
      .select("user_id", "t", "__cluster")
    assert(fast.schema == slow.schema, "both paths must emit the same schema")
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty,
      "dense fast path and rank-table fallback disagree on __cluster")
    // gapped ids (121..400 missing) must be detected as sparse and
    // still cluster by RANK, not by raw id
    val gapped = panel.filter(col("user_id") <= 120 ||
      (col("user_id") > 400 && col("user_id") <= 520))
    val infoG = FrameMoments.panelInfo(gapped)
    assert(!infoG.denseUserIds, "gapped ids must route to the fallback")
    val g = FrameMoments.withBlockCluster(gapped, infoG)
    // rank of the smallest post-gap id (401) is 121, so its position in
    // block space is contiguous with user 120's — raw-id arithmetic
    // would instead leave a 280-wide hole
    val clusters = g.filter(col("t") === 1 &&
        col("user_id").isin(120L, 401L))
      .select("user_id", "__cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(401L) == (121 - 1) / infoG.tMax,
      s"sparse rank must be contiguous, got cluster ${clusters(401L)}")
    assert(clusters(120L) == (120 - 1) / infoG.tMax)
  }

  test("null user_id disables the dense fast path; __urank is reserved") {
    import graft.stats.FrameMoments
    import spark.implicits._
    // ids 1..3 are dense-looking to min/max/countDistinct (nulls are
    // invisible to all three) — only the non-null row-count probe can
    // veto the fast path, which would emit the null row with a null
    // __cluster while the fallback's inner join drops it
    val withNull = Seq(
      (Option(1L), 1), (Option(2L), 1), (Option(3L), 1), (Option.empty[Long], 1)
    ).toDF("user_id", "t").withColumn("is_internal", lit(false))
    val info = FrameMoments.panelInfo(withNull)
    assert(!info.denseUserIds, "a null user_id must veto the dense path")
    // reserved helper name: both paths drop __urank at the end, so a
    // caller column of that name would be silently destroyed
    val clash = Seq((1L, 1, "x")).toDF("user_id", "t", "__urank")
    val e = intercept[IllegalArgumentException] {
      FrameMoments.withBlockCluster(clash,
        FrameMoments.PanelInfo(1L, 1, 1, 0.0, denseUserIds = true))
    }
    assert(e.getMessage.contains("__urank"))
  }

  test("WCLS estimates are invariant to row shuffling and repartitioning") {
    val gapped = panel
      .filter(col("user_id") <= 120 || (col("user_id") > 400 && col("user_id") <= 520))
    val base = Battery.run("WCLS-Pooled", gapped)
    val shuffled = Battery.run("WCLS-Pooled",
      gapped.repartition(17, col("x3")).sortWithinPartitions("y"))
    for (i <- 0 until 2) {
      assert(math.abs(base.betaR(i) - shuffled.betaR(i)) < 1e-9,
        s"beta[$i]: ${base.betaR(i)} vs ${shuffled.betaR(i)}")
      assert(math.abs(base.seBetaR(i) - shuffled.seBetaR(i)) < 1e-9,
        s"se[$i]: ${base.seBetaR(i)} vs ${shuffled.seBetaR(i)}")
    }
  }
}
