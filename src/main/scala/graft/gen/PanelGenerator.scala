package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Seeded synthetic MRT panel generator (reference: generate_data.R:2-94,
  * SURVEY.md §2.2 G1-G6) over spark.range.
  *
  * RNG is COUNTER-BASED and keyed by (seed, stream, user, t): every draw
  * is a pure function of its key via xxhash64, so results are invariant
  * to partitioning and row order (SURVEY.md §7.4.1 — Spark's rand(seed)
  * is partition-dependent and unacceptable here). The draws — uniforms,
  * Student-t noise and the AR(1) covariate and error processes — come
  * from one native Catalyst expression, [[PanelDraw]], whose static
  * kernel both codegen and interpreted evaluation call; the rest of the
  * DGP (the x2/x3/propensity/outcome formulas) is plain column
  * arithmetic over those draws. The AR(1) value at t is a weighted sum
  * of its own keyed innovations, so no row reads another: the generator
  * is one shuffle-free codegen stage at any scale.
  *
  * The R stream itself is not reproducible on the JVM (SURVEY.md §5.2):
  * this generator matches the reference's DISTRIBUTIONS; cross-
  * implementation goldens use the committed example_dat.csv instead.
  */
object PanelGenerator {

  import PanelDraw.{Ar1, StudentT, Unif}

  final case class Config(
      tMax: Int = 20, dof: Int = 10, nInternal: Int = 100, nExternal: Int = 100,
      arParam: Double = 0.5, x2Coef: Double = -3.0, x21sqCoef: Double = 0.0)

  /** Generate the panel: one row per (user_id 1..n, t 1..tMax), schema
    * matching FIXTURES.md §A1 plus explicit `t` (+ seed for lineage). */
  def panel(spark: SparkSession, seed: Long, cfg: Config): DataFrame = {
    val n = cfg.nInternal + cfg.nExternal
    val base = spark.range(n.toLong * cfg.tMax)
      .withColumn("user_id", (col("id") % n) + 1)       // user-fastest, like the
      .withColumn("t", (col("id") / n + 1).cast("int")) // reference's layout
      .drop("id")
    withPanelColumns(base, lit(seed), cfg)
  }

  /** All replications of a cell as ONE range — a `replication` column
    * (1..nReps) and per-row seed `seedBase + replication`. Draws are
    * bit-identical to nReps separate `panel(spark, seedBase + rep, cfg)`
    * calls (the RNG only sees the seed VALUE), but the plan carries a
    * single generator expression tree instead of nReps unioned copies —
    * at 400 reps that is the difference between a ~100 KB and a ~40 MB
    * task binary, and between one and 400 codegen compilations.
    */
  def panelReps(spark: SparkSession, seedBase: Long, cfg: Config, nReps: Int): DataFrame = {
    val n = cfg.nInternal + cfg.nExternal
    val perRep = n.toLong * cfg.tMax
    val base = spark.range(perRep * nReps)
      .withColumn("replication", (col("id") / perRep + 1).cast("int"))
      .withColumn("rid", col("id") % perRep)
      .withColumn("user_id", (col("rid") % n) + 1)
      .withColumn("t", (col("rid") / n + 1).cast("int"))
      .drop("id", "rid")
    withPanelColumns(base, lit(seedBase) + col("replication").cast("long"), cfg)
  }

  private def withPanelColumns(base: DataFrame, sc: Column, cfg: Config): DataFrame = {
    val Seq(seed, user, t) = Seq(sc, col("user_id"), col("t")).map(Bridge.toExpression)
    def draw(stream: String, d: PanelDraw.Draw): Column =
      Bridge.toColumn(PanelDraw(seed, user, t, stream, d))

    val isInt = col("user_id") <= cfg.nInternal
    val df1 = base
      .withColumn("is_internal", isInt)
      .withColumn("is_external", !isInt)
      .withColumn("x1", draw("x1", Ar1(cfg.arParam)))
    val x2 = when(col("is_internal"),
        lit(1.0) - col("x1") + lit(cfg.x21sqCoef) * col("x1") * col("x1") +
          lit(3.0) * draw("x2i", StudentT(cfg.dof)))
      .otherwise(lit(2.7) * draw("x2e", StudentT(cfg.dof)))
    val df2 = df1.withColumn("x2", x2)
      .withColumn("x3",
        lit(-1.0) + lit(0.5) * col("x1") - lit(0.8) * col("x2") +
          draw("x3", StudentT(cfg.dof)))
    val pH = lit(1.0) / (lit(1.0) + exp(
      lit(0.2) + lit(0.3) * col("is_internal").cast("double") +
        lit(0.05) * col("x1") - lit(0.03) * col("x2") + lit(0.06) * col("x3")))
    val df3 = df2.withColumn("p_h", pH)
      .withColumn("a_logical", draw("a", Unif(0)) < col("p_h"))
      .withColumn("a", col("a_logical").cast("double"))
      .withColumn("p_h_a", col("a") * col("p_h") + (lit(1.0) - col("a")) * (lit(1.0) - col("p_h")))
      .withColumn("epsilon", draw("eps", Ar1(cfg.arParam)))
      .withColumn("treatment_effect",
        lit(1.0) + lit(2.0) * col("x1") + lit(cfg.x2Coef) * col("x2"))
    df3.withColumn("y",
        lit(4.0) + lit(2.0) * col("x1") - lit(1.5) * col("x1") * col("x2") +
          lit(0.4) * pow(col("x3"), 3.0) + col("a") * col("treatment_effect") + col("epsilon"))
      .withColumn("ones", lit(1.0))
  }
}
