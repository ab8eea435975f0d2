package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The Spark session every spec runs on, plus per-suite temp dirs.
  *
  * One definition: `local[4]`, 4 shuffle partitions, no UI. Specs in one
  * JVM share the session (`getOrCreate`), and `graft.Regen` builds the
  * same one, so regenerated fixtures match what the specs check. */
trait SparkTestSession extends BeforeAndAfterAll { this: Suite =>

  protected lazy val spark: SparkSession = SparkTestSession.session()

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory under `java.io.tmpdir`, removed after the suite. */
  protected def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => FileUtil.fullyDelete(d.toFile))
    finally super.afterAll()
}

object SparkTestSession {
  def session(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
