package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Error gates for the sketch-based aggregates (q29): the pin fixes
  * WHAT the sketches return; this spec proves the returned values are
  * CLOSE to the exact answers they replace at scale — HLL++ distinct
  * counts within 3× the configured 2% relative standard deviation, and
  * quantile-summary percentiles inside the exact percentile band
  * implied by their rank-error bound (±1/10000, asserted with a ±0.005
  * rank cushion). A sketch that drifts outside these gates is broken
  * even if it is deterministic.
  */
class ApproxSketchSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"

  test("q29 sketch aggregates land within their error bounds of the exact answers") {
    val got = SparkEntry.queries("q29_sketch_stats")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("orders"),
        countDistinct(col("l_partkey")).as("parts"),
        percentile(col("l_extendedprice"), lit(0.495)).as("p50_lo"),
        percentile(col("l_extendedprice"), lit(0.505)).as("p50_hi"),
        percentile(col("l_extendedprice"), lit(0.985)).as("p99_lo"),
        percentile(col("l_extendedprice"), lit(0.995)).as("p99_hi"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == exact.keySet && got.nonEmpty)
    for ((flag, e) <- exact) {
      val g = got(flag)
      def relErr(approx: Long, truth: Long): Double =
        math.abs(approx - truth).toDouble / truth
      val eo = relErr(g.getAs[Long]("approx_orders"), e.getAs[Long]("orders"))
      val ep = relErr(g.getAs[Long]("approx_parts"), e.getAs[Long]("parts"))
      assert(eo <= 0.06, s"$flag: HLL orderkey rel err $eo > 3×rsd")
      assert(ep <= 0.06, s"$flag: HLL partkey rel err $ep > 3×rsd")
      val p50 = g.getAs[Double]("approx_p50")
      assert(p50 >= e.getAs[Double]("p50_lo") && p50 <= e.getAs[Double]("p50_hi"),
        s"$flag: approx p50 $p50 outside exact rank band")
      val p99 = g.getAs[Double]("approx_p99")
      assert(p99 >= e.getAs[Double]("p99_lo") && p99 <= e.getAs[Double]("p99_hi"),
        s"$flag: approx p99 $p99 outside exact rank band")
    }
  }

  test("q30 merged quarterly sketches estimate exact distinct within 3×rsd (lgK=12)") {
    val got = SparkEntry.queries("q30_sketch_union")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getAs[Long]("approx_customers")).toMap
    val exact = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("yr"),
        ((month(col("o_orderdate")) - 1) / 3).cast("int").+(1).as("qtr"))
      .agg(countDistinct(col("o_custkey")).as("customers"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got.keySet == exact.keySet && got.size >= 4,
      s"expected several quarters, got ${got.keySet}")
    for ((q, truth) <- exact) {
      val err = math.abs(got(q) - truth).toDouble / truth
      assert(err <= 0.05, s"$q: merged-sketch rel err $err > 3×rsd(lgK=12)")
    }
  }

  test("q30 day-over-day appends rollup identically to the all-at-once table") {
    import graft.operators.OlapQueries
    val orders = Tables.orders(spark, dir)
    val full = tempDir("graft_hll_full") + "/sk"
    OlapQueries.initSketchTable(spark, full, orders)
    val expected = OlapQueries.quarterlyRollup(spark, full).collect().toSeq
    // the scheduler's loop: an initial snapshot plus two later batches,
    // one of which splits a month across batches (partial-month rows)
    val inc = tempDir("graft_hll_inc") + "/sk"
    val cut1 = col("o_orderdate") < "1997-06-15"
    val cut2 = col("o_orderdate") < "1997-11-01"
    OlapQueries.initSketchTable(spark, inc, orders.filter(cut1))
    OlapQueries.appendSketchTable(spark, inc, orders.filter(!cut1 && cut2), "b1")
    OlapQueries.appendSketchTable(spark, inc, orders.filter(!cut2), "b2")
    val got = OlapQueries.quarterlyRollup(spark, inc).collect().toSeq
    // n_orders is a plain sum — exact under ANY batch layout. The HLL
    // estimate is NOT bit-identical where a month splits across batches
    // (DataSketches: streaming HIP estimator vs post-union composite
    // estimator); it must agree within 2% and both layouts must stay
    // within 3×rsd of exact truth (the q30 gate above covers the
    // all-at-once table; re-gate the incremental one here).
    assert(got.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))) ==
      expected.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))),
      "quarter keys and exact n_orders must match across batch layouts")
    for ((g, e) <- got.zip(expected)) {
      val (gc, ec) = (g.getAs[Long]("approx_customers"), e.getAs[Long]("approx_customers"))
      assert(math.abs(gc - ec).toDouble / ec <= 0.02,
        s"${g.getInt(0)}Q${g.getInt(1)}: split-month estimate $gc drifted >2% from all-at-once $ec")
    }
    val exactQ = orders
      .groupBy(year(col("o_orderdate")).as("yr"),
        ((month(col("o_orderdate")) - 1) / 3).cast("int").+(1).as("qtr"))
      .agg(countDistinct(col("o_custkey")).as("customers"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (g <- got) {
      val truth = exactQ((g.getInt(0), g.getInt(1)))
      val err = math.abs(g.getAs[Long]("approx_customers") - truth).toDouble / truth
      assert(err <= 0.05, s"${g.getInt(0)}Q${g.getInt(1)}: incremental rollup rel err $err > 3×rsd")
    }
    // retried-scheduler-job double append is rejected
    val ex = intercept[IllegalArgumentException] {
      OlapQueries.appendSketchTable(spark, inc, orders.filter(!cut2), "b2")
    }
    assert(ex.getMessage.contains("already appended"))
    // geometry mismatch fails loudly, never a silently-degraded union
    val exG = intercept[IllegalArgumentException] {
      OlapQueries.quarterlyRollup(spark, inc, lgK = 13)
    }
    assert(exG.getMessage.contains("lgK"))
  }

  test("q30 compaction merges partial months, preserves rollups, and keeps absorbed tags rejected") {
    import graft.operators.OlapQueries
    val orders = Tables.orders(spark, dir)
    val path = tempDir("graft_hll_cmp") + "/sk"
    val cut1 = col("o_orderdate") < "1997-06-15"
    val cut2 = col("o_orderdate") < "1997-11-01"
    OlapQueries.initSketchTable(spark, path, orders.filter(cut1))
    OlapQueries.appendSketchTable(spark, path, orders.filter(!cut1 && cut2), "b1")
    val before = OlapQueries.quarterlyRollup(spark, path).collect().toSeq.map(_.toSeq)
    val rowsBefore = graft.sources.IndexStore
      .readSwappable(spark, path, "months").count()

    OlapQueries.compactSketchTable(spark, path)
    val monthsAfter = graft.sources.IndexStore.readSwappable(spark, path, "months")
    assert(monthsAfter.count() ==
      monthsAfter.select("yr", "mo").distinct().count(), "one row per month")
    assert(monthsAfter.count() < rowsBefore, "compaction did not shrink the table")
    // the union preserves the covered value set and exact n_orders
    // bit-for-bit; the ESTIMATE may move sub-rsd (HIP → composite
    // estimator, the documented split-month effect) — gate at 2%
    val after = OlapQueries.quarterlyRollup(spark, path).collect().toSeq.map(_.toSeq)
    assert(after.map(r => (r(0), r(1), r(2))) == before.map(r => (r(0), r(1), r(2))),
      "quarter keys / exact n_orders changed across compaction")
    for ((a, b) <- after.zip(before)) {
      val (ac, bc) = (a(3).asInstanceOf[Long], b(3).asInstanceOf[Long])
      assert(math.abs(ac - bc).toDouble / bc <= 0.02,
        s"estimate drifted >2% across compaction: $ac vs $bc")
    }

    // a batch absorbed by the compaction stays rejected forever
    val ex = intercept[IllegalArgumentException] {
      OlapQueries.appendSketchTable(spark, path, orders.filter(!cut1 && cut2), "b1")
    }
    assert(ex.getMessage.contains("already appended"))
    // the lifecycle-reserved tag is refused outright
    val exR = intercept[IllegalArgumentException] {
      OlapQueries.appendSketchTable(spark, path, orders.filter(!cut2), "compact")
    }
    assert(exR.getMessage.contains("reserved"))

    // fresh appends and a second compaction compose: exact counts match
    // the all-at-once table, estimates stay within the split-month band
    OlapQueries.appendSketchTable(spark, path, orders.filter(!cut2), "b2")
    OlapQueries.compactSketchTable(spark, path)
    val full = tempDir("graft_hll_cmp_f") + "/sk"
    OlapQueries.initSketchTable(spark, full, orders)
    val expected = OlapQueries.quarterlyRollup(spark, full).collect().toSeq
    val got = OlapQueries.quarterlyRollup(spark, path).collect().toSeq
    assert(got.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))) ==
      expected.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))))
    for ((g, e) <- got.zip(expected)) {
      val (gc, ec) = (g.getAs[Long]("approx_customers"), e.getAs[Long]("approx_customers"))
      assert(math.abs(gc - ec).toDouble / ec <= 0.02,
        s"${g.getInt(0)}Q${g.getInt(1)}: post-compaction estimate drifted >2%")
    }
    for (t <- Seq("b1", "b2"))
      assert(intercept[IllegalArgumentException] {
        OlapQueries.appendSketchTable(spark, path, orders.filter(!cut2), t)
      }.getMessage.contains("already appended"))
  }
}
