package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{LineDedupQueries, Scaffold}
import graft.sources.Tables

/** d10 cross-document line-boilerplate removal: hand-built corpora with
  * known drop sets, literal-vs-join route equality, normalization
  * classes, and layout invariance.
  */
class LineDedupSpec extends AnyFunSuite with SparkTestSession {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("threshold drops only lines in >= floor distinct docs; order and digest exact") {
    // "promo line" in 3 docs (dropped at floor 3); "rare line" in 2 (kept)
    val docs = docsOf(
      1L -> "promo line\nalpha beta\nrare line",
      2L -> "gamma delta\npromo line\nrare line",
      3L -> "promo line\nepsilon zeta",
      4L -> "solo content here")
    val out = LineDedupQueries.boilerplateLines(docs, fracThreshold = 0.0, floorDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((3L, 1L, md5Hex("alpha beta\nrare line"), 0.333333)))
    assert(out(2L) == ((3L, 1L, md5Hex("gamma delta\nrare line"), 0.333333)))
    assert(out(3L) == ((2L, 1L, md5Hex("epsilon zeta"), 0.5)))
    assert(out(4L) == ((1L, 0L, md5Hex("solo content here"), 0.0)))
  }

  test("normalization classes: case and inner-space variants are one boilerplate line") {
    val docs = docsOf(
      1L -> "Subscribe  Now\nkeep one",
      2L -> "subscribe now\nkeep two",
      3L -> "SUBSCRIBE NOW \nkeep three")
    val out = LineDedupQueries.boilerplateLines(docs, fracThreshold = 0.0, floorDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) == md5Hex("keep one"))
    assert(out(2L) == md5Hex("keep two"))
    assert(out(3L) == md5Hex("keep three"))
  }

  test("a fully-boilerplate doc keeps the empty digest and dropped_frac 1") {
    val docs = docsOf(
      1L -> "chrome a\nchrome b",
      2L -> "chrome a\nchrome b",
      3L -> "chrome a\nchrome b",
      4L -> "real content")
    val out = LineDedupQueries.boilerplateLines(docs, fracThreshold = 0.0, floorDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((2L, md5Hex(""), 1.0)))
    assert(out(4L) == ((0L, md5Hex("real content"), 0.0)))
  }

  test("literal and join routes are identical on the linified corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), Scaffold.linifiedText.as("text"))
    val lit0 = LineDedupQueries.boilerplateLines(docs).collect().toSeq
    val join0 = LineDedupQueries.boilerplateLines(docs, literalCap = -1).collect().toSeq
    assert(lit0 == join0)
    assert(lit0.exists(_.getLong(2) > 0), "injection must make drops non-empty")
    assert(lit0.exists(_.getLong(2) == 0), "some docs must be untouched")
  }

  test("layout invariance: repartitioned input yields identical rows") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), Scaffold.linifiedText.as("text"))
    val a = LineDedupQueries.boilerplateLines(docs).collect().toSeq
    val b = LineDedupQueries.boilerplateLines(docs.repartition(7)).collect().toSeq
    assert(a == b)
  }

  test("a floor above the corpus size drops nothing") {
    val docs = docsOf(1L -> "x y\nz w", 2L -> "x y\nq r")
    val out = LineDedupQueries.boilerplateLines(docs, fracThreshold = 0.0, floorDocs = 100)
      .collect().map(r => (r.getLong(2), r.getString(3))).toSeq
    assert(out.forall(_._1 == 0L))
    assert(out.map(_._2).toSet ==
      Set(md5Hex("x y\nz w"), md5Hex("x y\nq r")))
  }

  // ---- stored line-frequency index (d10b) lifecycle ------------------

  private def linified(minId: Long, maxId: Long) =
    Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") >= minId && col("doc_id") < maxId)
      .select(col("doc_id"), Scaffold.linifiedText.as("text"))

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_lines"),
      r.getAs[Long]("n_dropped"), r.getAs[String]("kept_digest"),
      r.getAs[Double]("dropped_frac"))).sortBy(_._1).toSeq

  test("stored probe equals the full run's batch rows") {
    val path = tempDir("graft_lineidx")
    LineDedupQueries.initStoredLineIndex(spark, path, linified(250, 100000))
    val probe = LineDedupQueries.probeCleanBatch(spark, path, linified(0, 250))
    val full = LineDedupQueries.boilerplateLines(linified(0, 100000))
      .filter(col("doc_id") < 250)
    assert(rowsOf(probe) == rowsOf(full))
  }

  test("append folds a batch in: day-2 probe equals the 3-way full run") {
    val path = tempDir("graft_lineidx")
    LineDedupQueries.initStoredLineIndex(spark, path, linified(300, 100000))
    LineDedupQueries.probeCleanBatch(spark, path, linified(150, 300)).count()
    LineDedupQueries.appendStoredLineIndex(spark, path, linified(150, 300))
    val day2 = LineDedupQueries.probeCleanBatch(spark, path, linified(0, 150))
    val full = LineDedupQueries.boilerplateLines(linified(0, 100000))
      .filter(col("doc_id") < 150)
    assert(rowsOf(day2) == rowsOf(full))
  }

  test("compaction merges delta rows; probes identical across it; appends keep working") {
    import org.apache.spark.sql.functions.countDistinct
    val path = tempDir("graft_lineidx")
    LineDedupQueries.initStoredLineIndex(spark, path, linified(300, 100000))
    LineDedupQueries.appendStoredLineIndex(spark, path, linified(150, 300))
    val before = rowsOf(LineDedupQueries.probeCleanBatch(spark, path, linified(0, 150)))
    def lines() = graft.sources.IndexStore.readSwappable(spark, path, "lines")
    def totals() = graft.sources.IndexStore.readSwappable(spark, path, "totals")
    // init + append left multi-row line keys and two total deltas
    assert(lines().count() > lines().agg(countDistinct("nl")).head.getLong(0),
      "fixture must produce duplicate line-key rows before the merge")
    assert(totals().count() == 2L)
    LineDedupQueries.compactStoredLineIndex(spark, path)
    assert(lines().count() == lines().agg(countDistinct("nl")).head.getLong(0))
    assert(totals().count() == 1L)
    assert(rowsOf(LineDedupQueries.probeCleanBatch(spark, path, linified(0, 150)))
      == before, "probe must be identical across the merge compaction")
    LineDedupQueries.appendStoredLineIndex(spark, path, linified(100, 150))
    val day3 = rowsOf(LineDedupQueries.probeCleanBatch(spark, path, linified(0, 100)))
    val full = rowsOf(LineDedupQueries.boilerplateLines(linified(0, 100000))
      .filter(col("doc_id") < 100))
    assert(day3 == full, "post-compaction appends must keep the full-run equality")
  }

  test("disjointness gate trips on an overlapping batch") {
    val path = tempDir("graft_lineidx")
    LineDedupQueries.initStoredLineIndex(spark, path, linified(250, 100000))
    intercept[IllegalArgumentException] {
      LineDedupQueries.probeCleanBatch(spark, path, linified(200, 300)).count()
    }
    intercept[IllegalArgumentException] {
      LineDedupQueries.appendStoredLineIndex(spark, path, linified(200, 300))
    }
  }
}
