package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.obs.QueryTrace

/** Profiles catalog queries by name, one JVM for all of them:
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Profile p10 d2"
  *
  * A name is a full query name or its short key (`p10` for
  * `p10_incremental_release`). Each query gets one untimed warm run
  * (codegen, JIT, stored indexes), then one traced run from the same
  * dedup-memo state that prints the [[graft.obs.QueryTrace]] report: the
  * totals, the ten slowest stages and every job with its call site. A
  * query that throws prints its stack trace and the rest still run. The
  * session is Bench's: `local[N]` with N shuffle partitions, N from
  * SPARK_GRAFT_CPUS (default 4). For a query's plan, use
  * `Dataset.explain("formatted")`. */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query|short key> ...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val matches = args.toSeq.map { a =>
      a -> SparkEntry.queries.keys.filter(n => n == a || n.startsWith(a + "_")).toSeq.sorted
    }
    val unknown = matches.collect { case (a, ns) if ns.isEmpty => a }
    require(unknown.isEmpty, s"not in the catalog: ${unknown.mkString(", ")}")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = QueryTrace.install(spark.sparkContext)
    val failed = matches.flatMap(_._2).distinct.filterNot { name =>
      val fn = SparkEntry.queries(name)
      try {
        // the traced run starts from the memo state the warm run saw, as
        // Bench's timed reps do, so it does not just read the warm run's
        // cached pairs
        val memo = operators.DedupQueries.memoState()
        fn(spark, sfDir).count()
        operators.DedupQueries.restoreMemoState(memo)
        val (rows, summary) = trace.measure(fn(spark, sfDir).count())
        println(s"[profile] $name rows=$rows sf=$sfDir")
        summary.report(name).foreach(println)
        true
      } catch {
        case NonFatal(e) =>
          println(s"[profile] $name FAILED")
          e.printStackTrace(System.out)
          false
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      println(s"[profile] FAILED ${failed.size}: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
