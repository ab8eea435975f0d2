package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorQueries
import graft.sources.Tables

/** Distributed routing for the stored-ANN probe surface (r19, the r18
  * verdict's #5): past `MaxDriverRoutings` the driver-routed path
  * fail-stops and points at `ivfAdcProbeDistributed` /
  * `adcProbeDistributed` — so those must be REAL alternatives: the
  * same stored PQ index probed with the (q, list_id) routing kept as a
  * frame, row-identical to driver routing on the fixture (routing is
  * per-probe deterministic; only the join strategy differs, so any
  * divergence is a wiring bug).
  */
class RoutedProbeSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def emb = Tables.embeddings(spark, dir)
    .select(col("vec_id"), col("embedding"))
  private def probes = emb.filter(col("vec_id") < 50)
    .select(col("vec_id").as("q"), col("embedding").as("qe"))
  private lazy val idx = VectorQueries.storedPqIndex(spark, dir)

  private def rows4(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
  private def rows3(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("ivfAdcProbeDistributed is row-identical to the driver-routed probe") {
    val driver = rows4(VectorQueries.ivfAdcProbe(spark, idx, emb, probes))
    val dist = rows4(VectorQueries.ivfAdcProbeDistributed(spark, idx, emb, probes))
    assert(dist == driver)
    assert(driver.nonEmpty, "fixture produced no ANN results — vacuous")
  }

  test("distributed routing honors the candidate filter (x6b's shape)") {
    val f = col("nb") % 2 === 0
    val driver = rows4(VectorQueries.ivfAdcProbe(spark, idx, emb, probes,
      candFilter = f))
    val dist = rows4(VectorQueries.ivfAdcProbeDistributed(spark, idx, emb,
      probes, candFilter = f))
    assert(dist == driver)
    assert(driver.nonEmpty && driver.forall(_._2 % 2 == 0),
      "filtered candidates leaked through the distributed path")
  }

  test("adcProbeDistributed (code-only top-k) is row-identical to adcProbe") {
    val driver = rows3(VectorQueries.adcProbe(spark, idx, probes))
    val dist = rows3(VectorQueries.adcProbeDistributed(idx, probes))
    assert(dist == driver)
    assert(driver.nonEmpty)
  }
}
