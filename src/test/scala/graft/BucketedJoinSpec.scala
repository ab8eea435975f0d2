package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located joins — the storage-layout lever for repeated
  * large-×-large joins at 100 TB: writing both sides bucketed by the
  * join key lets every subsequent join run with ZERO exchange (only an
  * in-partition sort), instead of shuffling both tables every query.
  * This pins that the engine's layout recipe actually eliminates the
  * exchanges.
  *
  * Suites share one JVM/session, so broadcast suppression is set and
  * RESTORED via spark.conf (builder confs don't apply to an existing
  * session) and the bucketed tables get explicit temp-dir paths (the
  * static warehouse dir can't be changed post-creation).
  */
class BucketedJoinSpec extends AnyFunSuite with SparkTestSession {

  test("bucketed tables join with no exchange; unbucketed ones shuffle") {
    val dir = "/root/testdata/sf0.001"
    val tmp = tempDir("graft_bucketed")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    try {
      val orders = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))

      orders.write.mode("overwrite").option("path", s"$tmp/orders_b")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b")
      lineitem.write.mode("overwrite").option("path", s"$tmp/lineitem_b")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b")

      val bucketed = spark.table("orders_b").join(spark.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      val plain = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))

      val bPlan = bucketed.queryExecution.executedPlan.toString
      val pPlan = plain.queryExecution.executedPlan.toString
      assert(!bPlan.contains("Exchange"),
        "bucketed join should have no exchange\n" + bPlan.take(1500))
      assert(pPlan.contains("Exchange"), "control: unbucketed join must shuffle")
      // and the answers agree
      assert(bucketed.count() == plain.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
