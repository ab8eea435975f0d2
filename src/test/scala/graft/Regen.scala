package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

/** Regenerates the committed fixtures the specs compare against, on the
  * specs' own session ([[SparkTestSession]]), from the repo root:
  *
  *   sbt 'Test/runMain graft.Regen pins|oraclefix|latex|figures|card|threeway ...'
  *
  *  - `pins`: prints FixturePinSpec's hash for every no-oracle query,
  *    run twice (STABLE/UNSTABLE); only STABLE hashes belong in the spec.
  *  - `oraclefix`: rewrites the per-rep fixture CSVs under `oracles/`.
  *  - `latex`, `figures`, `card`: rewrite the committed LaTeX tables, SVG
  *    figures and dataset card that LatexReportSpec, SvgFiguresSpec and
  *    DatasetCardSpec compare byte for byte.
  *  - `threeway`: writes OracleThreeWaySpec's generated panel in the
  *    reference CSV layout to a temp file and rewrites its oracle by
  *    running `tools/golden_oracle.py` on it (needs python3 with numpy
  *    and pandas).
  *
  * A query that throws (s4/s5/s6 need the reference panel) is reported
  * by name, the rest still run, and the exit code is then 1. */
object Regen {
  private val sf001 = "/root/testdata/sf0.01"
  private val modes = Seq("pins", "oraclefix", "latex", "figures", "card", "threeway")

  def main(args: Array[String]): Unit = {
    val unknown = args.filterNot(modes.contains)
    require(args.nonEmpty && unknown.isEmpty,
      s"usage: Regen ${modes.mkString("|")} ... (unknown: ${unknown.mkString(", ")})")
    val spark = SparkTestSession.session()
    spark.sparkContext.setLogLevel("ERROR")
    var failed = Seq.empty[String]
    def attempt(name: String)(f: => Unit): Unit =
      try f catch {
        case NonFatal(e) =>
          failed :+= name
          println(s"FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }

    if (args.contains("pins")) {
      // the memoized pairs frame is cleared between runs so d2/d5
      // genuinely RE-EXECUTE the pipeline (hashing the same materialized
      // frame twice proves nothing). Derived, not hardcoded: a new
      // no_oracle query shows up here automatically (FixturePinSpec's
      // set-equality test forces its hash to be committed)
      val names = (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).toSeq.sorted
      for (n <- names) attempt(n) {
        operators.DedupQueries.clearPairsMemo()
        val h1 = CanonicalHash(SparkEntry.queries(n)(spark, sf001))
        operators.DedupQueries.clearPairsMemo()
        val h2 = CanonicalHash(SparkEntry.queries(n)(spark, sf001))
        println(s"""PIN "$n" -> "$h1", ${if (h1 == h2) "STABLE" else "UNSTABLE " + h2}""")
      }
    }

    if (args.contains("oraclefix")) {
      // The committed per-rep fixture CSVs behind the h1/h2/h3/s4 DuckDB
      // oracles hold the DETERMINISTIC per-replication intermediates at
      // full double precision (Double.toString — shortest exact
      // roundtrip); the oracle SQL recomputes the metric aggregation /
      // pretty-table formatting from them in DuckDB, so the oracle
      // compare checks BOTH that the live pipeline still reproduces the
      // committed per-rep values AND that the aggregation math is
      // cross-engine exact. Rerun after an INTENTIONAL estimator/harness
      // change.
      def writeCsv(path: String, header: String, rows: Seq[String]): Unit = {
        val p = Paths.get(path)
        Files.createDirectories(p.getParent)
        Files.writeString(p, (header +: rows).mkString("", "\n", "\n"))
        println(s"WROTE $path (${rows.size} rows)")
      }
      def perRepRow(r: org.apache.spark.sql.Row): Seq[Any] =
        Seq(r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3),
          r.getString(4), r.getDouble(5), r.getDouble(6),
          r.getBoolean(7), r.getBoolean(8))
      def perRepCsv(nReps: Int, methods: Seq[String]): Seq[String] =
        harness.SimulationRunner.perRepResults(
            spark, Seq(harness.SimulationRunner.Cell(30, 30)),
            nReps = nReps, methods = methods)
          .collect().map(perRepRow(_).mkString(",")).toSeq
      val hdr = "n_internal,n_external,replication,method,coef,estimate,se,covered,tilt_warning"
      writeCsv("oracles/h1_per_rep.csv", hdr,
        perRepCsv(3, Seq("WCLS-Internal", "WCLS-Pooled", "P-WCLS-Pooled")))
      writeCsv("oracles/h3_per_rep.csv", hdr,
        perRepCsv(2, Seq("WCLS-Internal", "WCLS-Pooled")))
      // h2: the same per-rep shape under each perturbed DGP, prefixed
      // with the scenario's display label (must mirror h2's label map)
      val h2labels = Map(
        "x2_0" -> "no_x2_effect", "x2_2" -> "positive_x2", "x12sq" -> "quadratic")
      val h2rows = harness.SensitivityGrid.scenarios.flatMap { sc =>
        val name = h2labels.getOrElse(sc.label, sc.label)
        harness.SimulationRunner.perRepResults(
            spark, Seq(harness.SimulationRunner.Cell(30, 30)),
            nReps = 2, methods = Seq("WCLS-Internal"),
            cfg0 = gen.PanelGenerator.Config(
              x2Coef = sc.x2Coef, x21sqCoef = sc.x21sqCoef))
          .collect().map(r => (name +: perRepRow(r)).mkString(",")).toSeq
      }
      writeCsv("oracles/h2_per_rep.csv", "scenario," + hdr, h2rows)
      attempt("s4_estimator_battery") {
        val s4 = SparkEntry.queries("s4_estimator_battery")(spark, "")
          .collect().map { r =>
            Seq(r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3),
              r.getBoolean(4)).mkString(",")
          }.toSeq
        writeCsv("oracles/s4_battery.csv", "method,coef,estimate,se,tilt_warning", s4)
      }
      // t16: the fitted classifier coefficients at full double precision,
      // keyed by (n_docs, sum n_chars) so one fixture serves every
      // committed sf: n_docs alone collides (sf0.001 and sf0.01 both hold
      // 500 docs); the char total disambiguates and both are one cheap
      // aggregate in either engine. The oracle restates the closed-form
      // scoring from these; a live-fit drift moves every score and fails
      // the hash gate.
      val t16rows = Seq("/root/testdata/sf0.001", sf001, "/root/testdata/sf0.1").map { d =>
        val key = sources.Tables.documents(spark, d)
          .agg(count(lit(1)), sum(col("n_chars"))).head()
        val fit = stats.Glm.logistic(
          operators.ClassifierQueries.featureFrame(spark, d),
          operators.ClassifierQueries.design, col("y"))
        require(fit.converged, s"t16 oraclefix: IRLS did not converge at $d")
        (Seq(key.getLong(0).toString, key.getLong(1).toString) ++
          fit.coef.toArray.map(_.toString).toSeq).mkString(",")
      }
      writeCsv("oracles/t16_coefs.csv", "n_docs,sum_chars,b0,b1,b2,b3", t16rows)
    }

    if (args.contains("latex")) {
      // the S4 table from the committed acceptance metrics, then one
      // sensitivity table per committed scenario (sensitivity.R:228-287)
      val methods = Seq("WCLS-Internal", "WCLS-Pooled", "P-WCLS-Internal",
        "P-WCLS-Pooled", "ET-WCLS", "DR-WCLS", "PET-WCLS")
      def metricsCsv(path: String) =
        spark.read.option("header", "true").option("inferSchema", "true").csv(path)
      val table = harness.LatexReport.simulationTable(
        metricsCsv("results/acceptance/metrics_csv"),
        sampleSize = 400, nReplications = 400, methods = methods)
      Files.writeString(Paths.get("results/acceptance/latex_table_400.tex"), table)
      println("LATEX_WRITTEN bytes=" + table.length)
      for (sc <- harness.SensitivityGrid.scenarios) {
        val t = harness.LatexReport.sensitivityTable(
          metricsCsv(s"results/sensitivity/${sc.label}/metrics_csv"),
          sc.label, nReplications = 400, methods = methods)
        Files.writeString(Paths.get(s"results/sensitivity/${sc.label}/latex_table_400.tex"), t)
        println(s"LATEX_WRITTEN ${sc.label} bytes=" + t.length)
      }
    }

    if (args.contains("figures")) {
      // the SVG figures from the committed figure frames / per-rep
      // checkpoints
      val se = spark.read.option("header", "true")
        .schema("panel STRING, coef STRING, method STRING, x INT, " +
          "empirical_se DOUBLE, n_reps_used BIGINT")
        .csv("results/acceptance/fig_se_curve")
      val bp = harness.FigureFrames.boxplotFrame(
        spark.read.parquet("results/acceptance/cell_400_400"))
      Files.createDirectories(Paths.get("results/figures"))
      for ((name, svg) <- Seq(
          "sample_size_se.svg" -> harness.SvgFigures.seCurveSvg(se),
          "estimates_400_400.svg" -> harness.SvgFigures.boxplotSvg(bp))) {
        Files.writeString(Paths.get(s"results/figures/$name"), svg)
        println(s"FIGURE_WRITTEN $name bytes=" + svg.length)
      }
    }

    if (args.contains("card")) {
      sources.DatasetCard.writeBoth(spark, sf001,
        "results/dataset_card_sf001.md", "results/dataset_card_sf001.json")
      println("CARD_WRITTEN results/dataset_card_sf001.md, .json")
    }

    if (args.contains("threeway")) attempt("threeway") {
      val csv = Files.createTempFile("threeway_panel", ".csv")
      try {
        OracleThreeWaySpec.writeReferenceCsv(spark, csv.toString)
        val exit = new ProcessBuilder("python3", "tools/golden_oracle.py", csv.toString,
          OracleThreeWaySpec.oracle).inheritIO().start().waitFor()
        require(exit == 0, s"tools/golden_oracle.py exited with $exit")
        println(s"WROTE ${OracleThreeWaySpec.oracle}")
      } finally Files.deleteIfExists(csv)
    }

    spark.stop()
    if (failed.nonEmpty) {
      println(s"FAILED ${failed.size}: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
