package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Stage.StageOps
import graft.sources.Tables
import graft.stats._
import QueryDef.dsumd

/** Model-fitting kernel queries (SURVEY.md §2.8 M1/M2, §2.6 A2) plus the
  * full estimator battery (§2.8-§2.10) exposed through the driver surface.
  *
  * The WLS and Gramian kernels are DuckDB-oracle-checked via explicit
  * closed-form SQL (decimal-exact moments). The estimator battery runs on
  * the reference's committed golden panel — rows-only for the driver, but
  * value-checked against example_estimates.csv by GoldenSpec.
  */
object StatQueries {

  /** Gramian XᵀX of [1, l_quantity, l_discount] as one distributed
    * cross-moment of X with itself (MomentPass.tdot), emitted as (i, j,
    * value) rows. Oracle: explicit sums. */
  val qGramian = QueryDef(
    "s1_gramian",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val x = Design(Design.intercept, ("q", col("l_quantity")), ("d", col("l_discount")))
      val pass = new MomentPass(li)
      val g = pass.tdot(x, x)
      pass.run()
      val m = g()
      val rows = for { i <- 0 until 3; j <- 0 until 3 }
        yield Row(i.toLong, j.toLong, BigDecimal(m(i, j)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      s.createDataFrame(
        s.sparkContext.parallelize(rows.toSeq, 1),
        StructType(Seq(StructField("i", LongType), StructField("j", LongType),
          StructField("v", DoubleType))))
    },
    Some("""
      WITH m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS s00,
               CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS s01,
               CAST(SUM(CAST(l_discount AS DECIMAL(30,2))) AS DOUBLE) AS s02,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS s11,
               CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(30,4))) AS DOUBLE) AS s12,
               CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(30,4))) AS DOUBLE) AS s22
        FROM lineitem)
      SELECT i, j, ROUND(v, 4) AS v FROM (
        SELECT 0 AS i, 0 AS j, s00 AS v FROM m UNION ALL
        SELECT 0, 1, s01 FROM m UNION ALL
        SELECT 0, 2, s02 FROM m UNION ALL
        SELECT 1, 0, s01 FROM m UNION ALL
        SELECT 1, 1, s11 FROM m UNION ALL
        SELECT 1, 2, s12 FROM m UNION ALL
        SELECT 2, 0, s02 FROM m UNION ALL
        SELECT 2, 1, s12 FROM m UNION ALL
        SELECT 2, 2, s22 FROM m) t
      ORDER BY i, j"""))

  /** d=2 weighted least squares on events (value ~ 1 + x, w deterministic)
    * through the engine's WLS kernel; oracle = closed-form normal equations
    * with decimal-exact moments. */
  val qWls = QueryDef(
    "s2_wls",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("x", (col("event_id") % 97).cast("double"))
        .withColumn("wt", lit(1.0) + (col("user_id") % 5).cast("double"))
      val x = Design(Design.intercept, ("x", col("x")))
      val beta = Glm.wls(ev, x, col("value"), col("wt"))
      val rows = Seq(
        Row("intercept", BigDecimal(beta(0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
        Row("slope", BigDecimal(beta(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("coef", StringType), StructField("est", DoubleType))))
    },
    Some("""
      WITH b AS (SELECT event_id, user_id, value,
                        CAST(event_id % 97 AS DOUBLE) AS x,
                        1.0 + CAST(user_id % 5 AS DOUBLE) AS wt
                 FROM events),
      m AS (
        SELECT CAST(SUM(CAST(wt AS DECIMAL(30,1))) AS DOUBLE) AS sw,
               CAST(SUM(CAST(wt * x AS DECIMAL(30,1))) AS DOUBLE) AS swx,
               CAST(SUM(CAST(wt * x * x AS DECIMAL(30,1))) AS DOUBLE) AS swxx,
               CAST(SUM(CAST(wt * value AS DECIMAL(30,2))) AS DOUBLE) AS swy,
               CAST(SUM(CAST(wt * x * value AS DECIMAL(30,2))) AS DOUBLE) AS swxy
        FROM b)
      SELECT coef, ROUND(est, 6) + 0.0 AS est FROM (
        SELECT 'slope' AS coef,
               (sw * swxy - swx * swy) / (sw * swxx - swx * swx) AS est FROM m
        UNION ALL
        SELECT 'intercept',
               (swy - (sw * swxy - swx * swy) / (sw * swxx - swx * swx) * swx) / sw FROM m)
      ORDER BY coef"""))

  /** IRLS logistic regression (M1) on lineitem: P(returnflag='R' | quantity,
    * discount). Deterministic; no SQL oracle (rows-only check). */
  val qLogistic = QueryDef(
    "s3_logistic_irls",
    (s, dir) => {
      // IRLS costs N+1 full scans over the SAME design — materialize the
      // three needed columns once (Stage) so iterations read compact
      // in-memory blocks instead of re-scanning the parquet per pass.
      // Same layout ⇒ same partial-sum order ⇒ bit-identical fit.
      val li = Tables.lineitem(s, dir)
        .select(col("l_quantity"), col("l_discount"), col("l_returnflag"))
        .staged
      val x = Design(Design.intercept, ("q", col("l_quantity")), ("d", col("l_discount")))
      val fit = Glm.logistic(li, x, when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
      val rows = x.names.zipWithIndex.map { case (n, i) =>
        Row(n, BigDecimal(fit.coef(i)).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("coef", StringType), StructField("est", DoubleType))))
    })

  /** The 10-method estimator battery on a 200-user slice of the committed
    * golden panel (fast, deterministic; full-panel values are golden-tested
    * in GoldenSpec). Output: (method, coef, estimate, se, tilt_warning). */
  val qBattery = QueryDef(
    "s4_estimator_battery",
    (s, _) => {
      val panel = Battery.examplePanel(s)
        .filter(col("user_id") <= 100 || (col("user_id") > 400 && col("user_id") <= 500))
        .cache()
      val coefNames = Seq("Intercept", "Slope")
      val rows = Battery.methodNames.flatMap { m =>
        val r = Battery.run(m, panel)
        coefNames.zipWithIndex.map { case (cn, i) =>
          Row(m, cn,
            BigDecimal(r.betaR(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            BigDecimal(r.seBetaR(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            r.tiltWarning)
        }
      }
      panel.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("method", StringType), StructField("coef", StringType),
          StructField("estimate", DoubleType), StructField("se", DoubleType),
          StructField("tilt_warning", BooleanType))))
        .orderBy("method", "coef")
    },
    // r10, upgraded from a pin: the battery's expected output is a
    // committed fixture (oracles/s4_battery.csv, regenerate via
    // `Test/runMain graft.Regen oraclefix` after an INTENTIONAL
    // estimator change — values reviewed against GoldenSpec's
    // full-panel parity). Unlike h1/h3 there is no aggregation for
    // DuckDB to recompute — the oracle is a cross-engine-loaded
    // expected-values compare, the golden-file discipline surfaced
    // through the driver's oracle gate instead of a private pin.
    Some("""
      SELECT method, coef, estimate, se, tilt_warning
      FROM read_csv_auto('/root/repo/oracles/s4_battery.csv', header=true)
      ORDER BY method, coef"""))

  /** A-WCLS (extras-tier plug-in projection, methods/awcls.R) on the
    * golden panel — 4 moderator coefficients with delta-method SEs.
    * Runs the DISTRIBUTED path (equivalence with the executor-local one
    * is pinned by AwclsEquivalenceSpec). */
  val qAwcls = QueryDef(
    "s5_awcls",
    (s, _) => {
      val r = Battery.run("A-WCLS", Battery.examplePanel(s))
      val names = Seq("a_centered", "a_centered:x1", "x2_proj:1", "x2_proj:x1")
      val rows = names.indices.map { i =>
        Row(names(i),
          BigDecimal(r.betaR(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(r.seBetaR(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("coef", StringType), StructField("estimate", DoubleType),
          StructField("se", DoubleType))))
    })

  /** AIC ladder for the tilt model (extras/et-model-selection.R, M9). */
  val qAic = QueryDef(
    "s6_aic_ladder",
    (s, _) => {
      val panel = LocalBattery.fromDataFrame(Battery.examplePanel(s), "_rowidx")
      val rows = LocalBattery.aicLadder(panel).map { case (name, k, aic) =>
        Row(name, k.toLong, BigDecimal(aic).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("model", StringType), StructField("k", LongType),
          StructField("aic", DoubleType))))
        .orderBy("aic")
    })

  val all: Seq[QueryDef] = Seq(qGramian, qWls, qLogistic, qBattery, qAwcls, qAic)
}
