package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{IncrementalRelease, ReleaseWriter}

/** Incremental release publication (r18). The p10 oracle proves
  * delta-published ≡ from-scratch through the manifest hash; this spec
  * pins the lifecycle the oracle cannot see: row-level artifact
  * equality, genuine carry-forward (a delta that secretly rewrites
  * everything would pass the oracle), the no-op delta, crash sweep,
  * lag-one retention with pool garbage collection, and the geometry
  * gate.
  */
class IncrementalReleaseSpec extends AnyFunSuite with SparkTestSession {

  // the c3 content-keyed split octet (restated — splitCol is
  // private[operators]; any deterministic split works for this spec)
  private def docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    .withColumn("split",
      when(substring(md5(col("doc_id").cast("string")), 3, 2) < "cc", "train")
        .when(substring(md5(col("doc_id").cast("string")), 3, 2) < "e6", "val")
        .otherwise("test"))

  private def day1 = docs.filter(col("doc_id") % 7 =!= 0)
  private def day2 = docs.filter(col("doc_id") % 11 =!= 0)
    .withColumn("text",
      when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
        .otherwise(col("text")))
  private def day3 = day2
    .withColumn("text",
      when(col("doc_id") % 17 === 0, concat(col("text"), lit(" rev3")))
        .otherwise(col("text")))

  private def rows(df: DataFrame) = df
    .select("doc_id", "text", "n_chars", "source", "lang", "split")
    .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getString(3), r.getString(4), r.getString(5))).sortBy(_._1).toSeq

  private def newRoot() = tempDir("graft_incr_spec") + "/rel"

  test("delta-published artifact equals today's logical release row for row, with genuine carry-forward") {
    val root = newRoot()
    IncrementalRelease.publishFull(day1, root)
    val m2 = IncrementalRelease.publishDelta(day2, root)
    assert(IncrementalRelease.versions(spark, root) == Seq(1L, 2L))
    assert(rows(IncrementalRelease.readCurrent(spark, root)) == rows(day2),
      "artifact after delta publish must be exactly today's logical release")
    // manifest of the artifact = manifest of the logical frame
    val want = ReleaseWriter.manifestOf(day2).collect().map(_.toSeq).toSeq
    assert(m2.collect().map(_.toSeq).toSeq == want)
    // non-vacuous delta: v2 must reference BOTH gen-1 (carried) and
    // gen-2 (rewritten) files — a full rewrite or a no-op would be a
    // silently wrong shape the oracle can't distinguish
    val files = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$root/v2/files.txt"))
    assert(files.stream().anyMatch(_.contains("/g1-")),
      s"no carried-forward file in $files")
    assert(files.stream().anyMatch(_.contains("/g2-")),
      s"no rewritten file in $files")
  }

  test("no-op delta: identical day republished creates no new version") {
    val root = newRoot()
    IncrementalRelease.publishFull(day1, root)
    val m = IncrementalRelease.publishDelta(day1, root)
    assert(IncrementalRelease.versions(spark, root) == Seq(1L),
      "an empty diff must not mint a version")
    assert(m.collect().map(_.toSeq).toSeq ==
      ReleaseWriter.manifestOf(day1).collect().map(_.toSeq).toSeq)
  }

  test("crash sweep: an uncommitted version dir and orphan pool gens vanish at the next publish") {
    val root = newRoot()
    IncrementalRelease.publishFull(day1, root)
    // simulate a publisher that died after writing gen files + manifest
    // but BEFORE the commit marker
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(s"$root/pool/train/b0/g2-99.parquet")
    fs.mkdirs(orphan.getParent)
    fs.create(orphan, true).close()
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/v2"))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/v2/files.txt"), true)
    out.write("train/b0/g2-99.parquet\n".getBytes("UTF-8")); out.close()
    // a reader before the next publish still resolves v1
    assert(IncrementalRelease.versions(spark, root) == Seq(1L))
    assert(rows(IncrementalRelease.readCurrent(spark, root)) == rows(day1))
    // the next publish sweeps the crash state and lands v2 cleanly
    IncrementalRelease.publishDelta(day2, root)
    assert(IncrementalRelease.versions(spark, root) == Seq(1L, 2L))
    assert(!fs.exists(orphan), "orphan gen file must be swept")
    assert(rows(IncrementalRelease.readCurrent(spark, root)) == rows(day2))
  }

  test("lag-one retention: superseded versions retire and unreferenced pool files are collected") {
    val root = newRoot()
    IncrementalRelease.publishFull(day1, root)
    IncrementalRelease.publishDelta(day2, root)
    IncrementalRelease.publishDelta(day3, root)
    assert(IncrementalRelease.versions(spark, root) == Seq(2L, 3L),
      "v1 must retire under lag-one retention")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v1")))
    // every pool file is referenced by a retained manifest; nothing
    // referenced was deleted (both retained versions still read clean)
    val referenced = Seq(2L, 3L).flatMap(v => java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$root/v$v/files.txt")).toArray.map(_.toString)).toSet
    val onDisk = scala.collection.mutable.Set[String]()
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$root/pool"), true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        onDisk += s"${f.getPath.getParent.getParent.getName}/" +
          s"${f.getPath.getParent.getName}/${f.getPath.getName}"
    }
    assert(onDisk == referenced,
      s"pool must hold exactly the referenced files: extra=${onDisk -- referenced} missing=${referenced -- onDisk}")
    assert(rows(IncrementalRelease.readVersion(spark, root, 2L)) == rows(day2),
      "the lag-one version must stay readable for in-flight readers")
    assert(rows(IncrementalRelease.readCurrent(spark, root)) == rows(day3))
  }

  test("long lineage: carried gen-1 files survive past v1's retirement (GC is by reference, not gen number)") {
    // the r18 review finding: after lag-one retention retires the
    // version that CREATED gen 1, versions 2 and 3 still reference
    // carried gen-1 files for untouched buckets; a gen-number-keyed
    // crash sweep would delete them on the NEXT publish and corrupt
    // every retained release
    val root = newRoot()
    // narrow daily deltas (a handful of revised docs each) so most
    // buckets stay untouched through the whole lineage — the shape
    // that maximizes carried gen-1 files
    def rev(base: DataFrame, k: Int): DataFrame = base.withColumn("text",
      when(col("doc_id") % k === 0, concat(col("text"), lit(s" rev$k")))
        .otherwise(col("text")))
    val d2 = rev(docs, 13)
    val d3 = rev(d2, 17)
    val d4 = rev(d3, 19)
    IncrementalRelease.publishFull(docs, root) // v1: every file is gen 1
    IncrementalRelease.publishDelta(d2, root)  // v2: carries gen-1 files
    IncrementalRelease.publishDelta(d3, root)  // v3: retires v1 (lag-one)
    assert(IncrementalRelease.versions(spark, root) == Seq(2L, 3L))
    // a fourth publish runs the crash sweep over a pool whose gen-1
    // files belong to NO live version NUMBER — they must survive
    IncrementalRelease.publishDelta(d4, root)
    assert(IncrementalRelease.versions(spark, root) == Seq(3L, 4L))
    // both retained versions read back complete and equal their logical
    // releases — v3 still resolving its carried gen-1 files
    assert(rows(IncrementalRelease.readVersion(spark, root, 3L)) == rows(d3))
    assert(rows(IncrementalRelease.readVersion(spark, root, 4L)) == rows(d4))
    // and the carry is genuine: v4's manifest still lists gen-1 files
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val m4 = scala.io.Source.fromInputStream(
      fs.open(new org.apache.hadoop.fs.Path(s"$root/v4/files.txt")), "UTF-8")
      .getLines().toList
    assert(m4.exists(_.matches(".*/g1-[0-9]+\\.parquet")),
      "deep lineage must still carry first-generation files by reference")
  }

  test("a split/metadata move under UNCHANGED text is still a touched bucket (full-contract fingerprint)") {
    // the r18 review finding: a text-only diff fingerprint would let a
    // doc whose split (or source/lang) changed carry its stale row
    // forward by reference, silently diverging the artifact from the
    // logical release
    val root = newRoot()
    IncrementalRelease.publishFull(docs, root)
    val moved = docs.withColumn("split",
      when(col("doc_id") % 13 === 0, lit("val")).otherwise(col("split")))
    IncrementalRelease.publishDelta(moved, root)
    assert(IncrementalRelease.versions(spark, root) == Seq(1L, 2L))
    assert(rows(IncrementalRelease.readCurrent(spark, root)) == rows(moved),
      "the artifact must reflect the split move even though no text changed")
    val movedIds = moved.filter(col("doc_id") % 13 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotSplits = IncrementalRelease.readCurrent(spark, root)
      .filter(col("doc_id").isin(movedIds.toSeq: _*))
      .select("split").distinct().collect().map(_.getString(0)).toSet
    assert(gotSplits == Set("val"))
  }

  test("geometry gate: a delta with a different nBuckets fail-stops") {
    val root = newRoot()
    IncrementalRelease.publishFull(day1, root, nBuckets = 8)
    val ex = intercept[IllegalArgumentException] {
      IncrementalRelease.publishDelta(day2, root, nBuckets = 16)
    }
    assert(ex.getMessage.contains("geometry"))
  }

  test("empty release refuses to publish") {
    val root = newRoot()
    intercept[IllegalStateException] {
      IncrementalRelease.publishFull(day1.filter(lit(false)), root)
    }
    assert(IncrementalRelease.versions(spark, root).isEmpty)
  }
}
