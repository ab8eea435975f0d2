package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.PanelGenerator
import graft.stats.{Battery, LocalBattery}

/** The three-way check: the ten methods on a seeded 400+400×20 panel, on
  * both estimator backends, against `tools/golden_oracle.py`'s numpy
  * re-derivation of the same panel (committed as [[OracleThreeWaySpec.oracle]];
  * regenerate with `sbt 'Test/runMain graft.Regen threeway'`). */
class OracleThreeWaySpec extends AnyFunSuite with SparkTestSession {
  import OracleThreeWaySpec._

  test("both backends match the numpy oracle on a generated 400+400 panel") {
    val rows = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(oracle)).asScala.drop(1)
    val expected = rows.map(_.split(",")).groupBy(_(0)).map { case (m, rs) =>
      m -> (rs.sortBy(_(1)).map(r => (r(2).toDouble, r(3).toDouble)).toSeq, rs.head(4).toBoolean)
    }
    assert(expected.keySet == Battery.methodNames.toSet, "the oracle must cover all ten methods")
    val df = panel(spark).cache()
    try {
      val local = LocalBattery.fromDataFrame(df, "t", "user_id")
      val off = for {
        m <- Battery.methodNames
        (route, r) <- Seq("array" -> LocalBattery.run(m, local), "DataFrame" -> Battery.run(m, df))
        (want, warning) = expected(m)
        // coefs in the file's (Intercept, Slope) order
        (i, (est, se)) <- want.indices.zip(want)
        miss = Seq(
          Option.when(math.abs(r.betaR(i) - est) >= 1e-8)(s"estimate ${r.betaR(i)} vs $est"),
          Option.when(math.abs(r.seBetaR(i) - se) >= 1e-6)(s"se ${r.seBetaR(i)} vs $se"),
          Option.when(i == 0 && r.tiltWarning != warning)(s"tilt warning ${r.tiltWarning}")).flatten
        if miss.nonEmpty
      } yield s"$m/$route/coef $i: ${miss.mkString(", ")}"
      assert(off.isEmpty, off.mkString("\n"))
    } finally df.unpersist()
  }
}

object OracleThreeWaySpec {
  val oracle = "oracles/threeway_400_400.csv"

  def panel(spark: SparkSession): DataFrame = PanelGenerator.panel(spark, 7L,
    PanelGenerator.Config(nInternal = 400, nExternal = 400))

  /** The panel as the reference's example_dat.csv lays it out: R's row
    * index first, users fastest within t, booleans as TRUE/FALSE. */
  def writeReferenceCsv(spark: SparkSession, path: String): Unit = {
    val cols = Seq("is_internal", "is_external", "x1", "x2", "x3", "p_h", "p_h_a",
      "a_logical", "a", "epsilon", "treatment_effect", "y", "user_id", "ones")
    val rows = panel(spark).orderBy("t", "user_id").select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().zipWithIndex.map { case (r, i) =>
        ((i + 1).toString +: r.toSeq.map {
          case b: Boolean => if (b) "TRUE" else "FALSE"
          case d: Double => java.lang.Double.toString(d)
          case v => v.toString
        }).mkString(",")
      }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      (("\"\"" +: cols.map(c => "\"" + c + "\"")).mkString(",") +: rows.toSeq).mkString("", "\n", "\n"))
  }
}
