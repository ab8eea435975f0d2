package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.gen.PanelGenerator
import graft.harness.{GridRunner, SimulationRunner}
import graft.stats.{Battery, Glm, LocalBattery, Sandwich}

/** JVM side of the benchmark (`perfbench/run.py` starts it). One JVM runs
  * one workload: set-up (a Spark application and an untimed warm-up on a
  * tiny input), then whole timed rounds of the workload for about
  * `--seconds`, then the untimed export of everything the Python side
  * checks. A traced run (`--trace 1`) also installs the benchmark's
  * listener and times each layer's public functions after the pass.
  * Results go to the JSON file named by `--out`.
  *
  * Arguments: `--workload mc_grid|release_catalog|oracle-sql --seed N
  * --seconds S --trace 0|1 --state DIR --data DIR --out FILE`.
  */
object Bench {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        state: String, data: String, out: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "1").toDouble, kv.getOrElse("trace", "0") == "1",
      kv("state"), kv.getOrElse("data", ""), kv("out"))
    val json = o.workload match {
      case "mc_grid" => new McGrid(o).run()
      case "release_catalog" => new ReleaseCatalog(o).run()
      case "oracle-sql" => ReleaseCatalog.oracleSqlJson
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(Paths.get(o.out), json)
  }

  def session(state: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$state/spark-local")
      .config("spark.sql.warehouse.dir", s"$state/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def secondsOf[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** The timed-round skeleton both workloads share. */
abstract class Workload(val o: Bench.Opts) {
  import Bench._

  protected var spark: SparkSession = _
  protected var trace: Option[Trace] = None
  protected val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  protected val extra = mutable.LinkedHashMap.empty[String, String]
  protected var attempted = 0
  protected var failed = 0

  /** Untimed warm-up on a tiny input; leaves the workload's own state cold. */
  protected def warmUp(): Unit
  /** Untimed preparation of round `k` (fresh state). */
  protected def prepare(k: Int): Unit
  /** One timed round; returns the operations it attempted and failed. */
  protected def round(k: Int): (Int, Int)
  /** Untimed work after the pass: exports for the checks, traced probes. */
  protected def finish(rounds: Int): Unit

  protected def newSession(): Unit = {
    spark = session(o.state)
    if (o.trace) {
      if (trace.isEmpty) trace = Some(new Trace)
      spark.sparkContext.addSparkListener(trace.get)
    }
  }

  protected def drain(): Unit = org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)

  def run(): String = {
    newSession()
    println(f"[perfbench] session ready ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2f s after JVM start")
    warmUp()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val gc0 = gcSeconds()
    val passStart = System.nanoTime()
    var k = 0
    // whole rounds only; another round starts when it is expected to end
    // within the run length
    while (k == 0 || (System.nanoTime() - passStart) / 1e9 + walls.last <= o.seconds) {
      k += 1
      prepare(k)
      val c0 = cpuSeconds()
      val ((a, f), wall) = secondsOf(Trace.label(spark, "pass")(round(k)))
      walls += wall
      cpus += cpuSeconds() - c0
      attempted += a
      failed += f
      println(f"[perfbench] round $k: $wall%.2f s")
    }
    val gcPass = (gcSeconds() - gc0) / k
    val rss = peakRssMb()
    trace.foreach { t =>
      drain()
      val js = t.jobsWhere(_.startsWith("pass"))
      val ts = t.tasksOf(js)
      layer("spark.jobs") = (js.size.toDouble / k, "count")
      layer("spark.tasks") = (ts.size.toDouble / k, "count")
      layer("spark.task_s") = (ts.map(_.runTimeMs).sum / 1e3 / k, "s")
      layer("spark.shuffle_write_mb") = (ts.map(_.shuffleWriteBytes).sum / 1048576.0 / k, "MB")
      layer("spark.spill_mb") = (ts.map(_.spillBytes).sum / 1048576.0 / k, "MB")
      layer("spark.gc_s") = (gcPass, "s")
    }
    val (_, finishS) = secondsOf(finish(k))
    println(f"[perfbench] set-up $setupS%.2f s, after the pass $finishS%.2f s")
    spark.stop()

    val e2e = Seq(
      "wall_s" -> (median(walls.toSeq), "s"),
      "setup_s" -> (setupS, "s"),
      "cpu_s" -> (median(cpus.toSeq), "s"),
      "peak_rss_mb" -> (rss, "MB"))
    def obj(ms: Iterable[(String, (Double, String))]): String = ms.map { case (n, (v, u)) =>
      s"${q(n)}: {\"value\": $v, \"unit\": ${q(u)}}"
    }.mkString("{", ", ", "}")
    val fields = Seq("workload" -> q(o.workload), "rounds" -> k.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "end_to_end" -> obj(e2e), "per_layer" -> obj(layer)) ++ extra
    fields.map { case (key, v) => s"${q(key)}: $v" }.mkString("{", ", ", "}")
  }
}

/** `mc_grid`: five cells of the paper's grid × 10 methods, cell by cell
  * through GridRunner.runGrid into a fresh checkpoint directory, then
  * SimulationRunner.metrics — the path FullGrid takes. */
final class McGrid(o0: Bench.Opts) extends Workload(o0) {
  import Bench._
  import McGrid._

  private val methods = Battery.methodNames
  private val cellTimes = mutable.LinkedHashMap.empty[String, Double]
  private var metricsRows: Array[Row] = Array.empty

  private def ckpt(k: Int) = s"${o.state}/grid-$k"

  /** Untimed rounds identical to the timed ones: the code Spark generates
    * for a panel embeds the cell sizes, replication count and seed as
    * literals, so only the same round warms the timed one, and the JIT is
    * still compiling through the first. */
  protected def warmUp(): Unit = (1 to WarmRounds).foreach(w => Trace.label(spark, "warm")(round(-w)))

  protected def prepare(k: Int): Unit = ()

  protected def round(k: Int): (Int, Int) = {
    val dfs = Cells.map { c =>
      val (df, s) = secondsOf(GridRunner.runGrid(spark, Seq(c), Reps, methods,
        Some(ckpt(k)), baseSeed = o.seed)._1)
      cellTimes(s"${c.nInternal}x${c.nExternal}") = s
      df
    }
    val perRep = dfs.reduce(_ unionByName _)
    metricsRows = SimulationRunner.metrics(perRep).collect()
    // a fit the program skipped as degenerate left no rows
    val fits = Cells.size * Reps * methods.size
    val done = metricsRows.filter(_.getAs[String]("coef") == SimulationRunner.coefNames.head)
      .map(_.getAs[Long]("n_reps_used")).sum.toInt
    (fits, fits - done)
  }

  protected def finish(rounds: Int): Unit = {
    val outDir = s"${o.state}/out"
    val perRep = Cells.map(c => spark.read.parquet(s"${ckpt(rounds)}/cell_${c.nInternal}_${c.nExternal}"))
      .reduce(_ unionByName _)
    val perRepRows = perRep.collect()
    writeCsv(s"$outDir/per_rep.csv", perRep.columns.toSeq, perRepRows)
    writeCsv(s"$outDir/metrics.csv", metricsRows.headOption.map(_.schema.fieldNames.toSeq)
      .getOrElse(Seq.empty), metricsRows)

    // panels for the numpy re-derivation: seeded (cell, replication) pairs
    val rng = new scala.util.Random(o.seed)
    val sample = rng.shuffle(Cells).take(ExportPanels)
      .map(c => (c, 1 + rng.nextInt(Reps)))
    val panels = sample.map { case (c, rep) =>
      val path = s"$outDir/panel_${c.nInternal}_${c.nExternal}_$rep"
      panelOf(c, rep).select("t", "user_id", "y", "a", "x1", "x2", "x3", "p_h_a", "is_internal")
        .coalesce(1).write.parquet(path)
      s"""{"n_internal": ${c.nInternal}, "n_external": ${c.nExternal}, "replication": $rep, "path": ${q(path)}}"""
    }
    extra("reps") = Cells.map(c => s"""{"n_internal": ${c.nInternal}, "n_external": ${c.nExternal}, "reps": ${Reps}}""")
      .mkString("[", ", ", "]")
    extra("panels") = panels.mkString("[", ", ", "]")
    extra("per_rep_csv") = q(s"$outDir/per_rep.csv")
    extra("metrics_csv") = q(s"$outDir/metrics.csv")

    if (o.trace) traced(perRepRows, rounds)
  }

  private def panelOf(c: SimulationRunner.Cell, rep: Int) =
    PanelGenerator.panel(spark, GridRunner.cellSeed(o.seed, c) + rep,
      PanelGenerator.Config(nInternal = c.nInternal, nExternal = c.nExternal))

  private def traced(perRep: Array[Row], rounds: Int): Unit = {
    val t = trace.get
    drain()
    val pass = t.jobsWhere(_ == "pass")

    // gen: the jobs that materialize panelReps inside the pass
    val genJobs = pass.filter(_.name.startsWith("localCheckpoint"))
    val genS = t.jobSeconds(genJobs)
    val tMax = PanelGenerator.Config().tMax
    val genRows = Cells.map(c => (c.nInternal + c.nExternal).toLong * tMax * Reps).sum * rounds
    layer("gen.rows_per_s") = (genRows / genS, "1/s")
    val firstGen = t.jobsWhere(_ == "warm").filter(_.name.startsWith("localCheckpoint")).minBy(_.id)
    layer("gen.first_call_s") = (t.jobSeconds(Seq(firstGen)), "s")

    // harness: per-cell wall time and the battery stage's task skew
    cellTimes.foreach { case (c, s) => layer(s"harness.cell_s.$c") = (s, "s") }
    val battery = t.tasksInScope(pass, "MapGroups").filter(_.durationMs > 0)
    val skew = battery.groupBy(_.stageId).values.filter(_.size > 1).map { ts =>
      ts.map(_.durationMs).max.toDouble / median(ts.map(_.durationMs.toDouble))
    }
    layer("harness.task_skew") = (if (skew.isEmpty) 1.0 else skew.max, "ratio")

    // local_battery: every method on the largest cell's panel
    val big = Cells.maxBy(c => c.nInternal + c.nExternal)
    val bigPanel = LocalBattery.fromDataFrame(panelOf(big, 1), "t", "user_id")
    methods.foreach { m =>
      val ms = (1 to LocalRepeats).map(_ => secondsOf(LocalBattery.run(m, bigPanel))._2 * 1e3)
      layer(s"local_battery.fit_ms.$m") = (median(ms), "ms")
    }

    // estimators: the rows-parallel battery on a cached panel, plus the
    // three moment kernels it is built from; its results must match the
    // local route's fits of the same panel (the ScaleCell bound)
    val panel = panelOf(EstimatorCell, 1).cache()
    panel.count()
    val local = perRep.filter(r => r.getAs[Int]("n_internal") == EstimatorCell.nInternal &&
      r.getAs[Int]("n_external") == EstimatorCell.nExternal && r.getAs[Int]("replication") == 1)
    var worst = 0.0
    var compared = 0
    methods.foreach { m =>
      val (res, s) = secondsOf(Trace.label(spark, s"fit:$m")(Battery.run(m, panel)))
      drain()
      layer(s"estimators.fit_s.$m") = (s, "s")
      layer(s"estimators.jobs_per_fit.$m") = (t.jobsWhere(_ == s"fit:$m").size.toDouble, "count")
      SimulationRunner.coefNames.zipWithIndex.foreach { case (coef, i) =>
        local.find(r => r.getAs[String]("method") == m && r.getAs[String]("coef") == coef).foreach { r =>
          worst = worst.max(math.abs(r.getAs[Double]("estimate") - res.betaR(i)))
            .max(math.abs(r.getAs[Double]("se") - res.seBetaR(i)))
          compared += 1
        }
      }
    }
    extra("route_agreement") =
      s"""{"compared": $compared, "expected": ${methods.size * 2}, "max_abs_diff": $worst}"""
    def kernel(name: String)(f: => Any): Unit =
      layer(s"estimators.${name}_s") = (median((1 to KernelRepeats).map(_ => secondsOf(f)._2)), "s")
    kernel("logistic")(Glm.logistic(panel, Battery.pH, col("a")))
    kernel("wls")(Glm.wls(panel, Battery.betaH, col("y"), lit(1.0)))
    kernel("meat")(Sandwich.meat(panel, Battery.betaH, col("user_id")))
    panel.unpersist()
  }

  private def writeCsv(path: String, header: Seq[String], rows: Array[Row]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val lines = header.mkString(",") +: rows.toSeq.map(_.toSeq.map {
      case null => ""
      case d: Double => java.lang.Double.toString(d)
      case v => v.toString
    }.mkString(","))
    Files.write(Paths.get(path), lines.asJava)
  }
}

object McGrid {
  /** The five cells Acceptance runs at 400 replications, all in
    * FullGrid's full-replication tier; perfbench/README.md says why the
    * others are left out. */
  val Cells: Seq[SimulationRunner.Cell] =
    Seq((25, 25), (100, 100), (400, 400), (100, 400), (400, 100))
      .map((SimulationRunner.Cell.apply _).tupled)
  val Reps = 2
  val WarmRounds = 2
  val EstimatorCell: SimulationRunner.Cell = SimulationRunner.Cell(25, 25)
  val ExportPanels = 2
  val LocalRepeats = 3
  val KernelRepeats = 3
}

/** `release_catalog`: the release queries in sorted-name order, once
  * per round, on a fresh copy of the corpus — so every stored index, the
  * published release and every memo start empty, as on a new corpus
  * snapshot. */
final class ReleaseCatalog(o0: Bench.Opts) extends Workload(o0) {
  import Bench._
  import ReleaseCatalog._

  private val results = mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
  private val errors = mutable.LinkedHashMap.empty[String, String]
  private val queryTimes = mutable.LinkedHashMap.empty[String, Double]
  private var indexBefore = 0L
  private var releaseBefore = 0L

  private def corpus(k: Int) = s"${o.state}/corpus-$k"
  private def tables: Seq[Path] = {
    val s = Files.list(Paths.get(o.data))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    finally s.close()
  }
  private def indexRoot = Paths.get(graft.sources.IndexStore.root)
  private def releaseBytes(): Long = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_release_"))
      .map(bytesUnder).sum finally s.close()
  }

  protected def warmUp(): Unit = {
    val warm = s"${o.state}/warm"
    tables.foreach { t =>
      spark.read.parquet(t.toString).limit(WarmRows).coalesce(1)
        .write.parquet(s"$warm/${t.getFileName}")
    }
    graft.SparkEntry.queries(WarmQuery)(spark, warm).collect()
  }

  protected def prepare(k: Int): Unit = {
    if (k > 1) { spark.stop(); newSession() } // each round in a fresh application
    val dir = Files.createDirectories(Paths.get(corpus(k)))
    tables.foreach(t => Files.copy(t, dir.resolve(t.getFileName)))
    indexBefore = bytesUnder(indexRoot)
    releaseBefore = releaseBytes()
  }

  protected def round(k: Int): (Int, Int) = {
    results.clear(); errors.clear()
    Names.foreach { n =>
      val (_, s) = secondsOf(Trace.label(spark, s"pass:$n") {
        try {
          val df = graft.SparkEntry.queries(n)(spark, corpus(k))
          results(n) = (df.collect(), df.schema)
        } catch {
          case scala.util.control.NonFatal(e) =>
            errors(n) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      })
      queryTimes(n) = s
    }
    (Names.size, errors.size)
  }

  protected def finish(rounds: Int): Unit = {
    val outDir = s"${o.state}/out"
    results.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(s"$outDir/$n")
    }
    extra("outputs") = q(outDir)
    extra("queries") = Names.map(q).mkString("[", ", ", "]")
    extra("errors") = errors.map { case (n, e) => s"${q(n)}: ${q(e)}" }.mkString("{", ", ", "}")
    if (o.trace) {
      val t = trace.get
      drain()
      Names.foreach { n =>
        val key = n.takeWhile(_ != '_')
        layer(s"operators.$key.wall_s") = (queryTimes(n), "s")
        layer(s"operators.$key.jobs") = (t.jobsWhere(_ == s"pass:$n").size.toDouble / rounds, "count")
      }
      layer("sources.index_mb") = ((bytesUnder(indexRoot) - indexBefore) / 1048576.0, "MB")
      layer("sources.release_mb") = ((releaseBytes() - releaseBefore) / 1048576.0, "MB")
    }
  }
}

object ReleaseCatalog {
  /** The release queries, fixed here so the workload cannot change when
    * the catalog grows: the curation stack (p1), the publish (p4), every
    * from-release audit (p5f, p5bf, p5cf, p6f), split leakage (p6), the
    * fuzzy funnel (p9) and the incremental releases (p10, p11, p12).
    * perfbench/README.md says why the other seven are left out. */
  val Names: Seq[String] = Seq(
    "p10_incremental_release", "p11_release_changelog", "p12_incremental_fuzzy_release",
    "p1_curation_pipeline", "p4_release_write", "p5bf_report_bpe_from_release",
    "p5cf_domain_mix_from_release", "p5f_report_from_release", "p6_split_leakage",
    "p6f_split_leakage_from_release", "p9_fuzzy_release_funnel").sorted
  /** Warm-up: the curation stack and the publish, on a tiny sample of the
    * corpus. */
  val WarmQuery = "p4_release_write"
  val WarmRows = 40

  def oracleSqlJson: String = {
    val sql = graft.SparkEntry.oracleSql
    Names.map(n => s"${Bench.q(n)}: ${Bench.q(sql(n))}").mkString("{", ", ", "}")
  }
}
