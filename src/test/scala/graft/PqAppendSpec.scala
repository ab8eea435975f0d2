package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorQueries
import graft.sources.Tables

/** Appendable PQ index lifecycle (the day-over-day ANN ingest loop):
  * init freezes the quantizers on the snapshot, append encodes later
  * increments with the stored books, probes see the grown corpus.
  */
class PqAppendSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def tmpPath(): String =
    tempDir("graft_pq_idx") + "/pq"

  test("init on the full corpus + ivfAdcProbe equals the v7 query exactly") {
    val path = tmpPath()
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    VectorQueries.initStoredPqIndex(spark, path, emb)
    val probes = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q"), col("embedding").as("qe"))
    val got = VectorQueries.ivfAdcProbe(
      spark, VectorQueries.readStoredPqIndex(spark, path), emb, probes)
      .collect().map(_.toSeq).toSeq
    val want = VectorQueries.vIvfAdcAnn.fn(spark, dir).collect().map(_.toSeq).toSeq
    assert(got == want, "lifecycle init+read+probe must match the auto stored-index query")
  }

  test("day-over-day: append encodes with frozen books; probes see the increment; re-append trips") {
    val path = tmpPath()
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // day 0: snapshot = vectors >= 100 (quantizers train on this only)
    VectorQueries.initStoredPqIndex(spark, path, emb.filter(col("vec_id") >= 100))
    val before = VectorQueries.readStoredPqIndex(spark, path)
    val booksBefore = before.books.map(_.map(_.toSeq).toSeq).toSeq
    // day 1: the first 100 vectors arrive and are appended
    VectorQueries.appendStoredPqIndex(spark, path, emb.filter(col("vec_id") < 100))
    val after = VectorQueries.readStoredPqIndex(spark, path)
    // quantizers are FROZEN — append must not refit the books
    assert(after.books.map(_.map(_.toSeq).toSeq).toSeq == booksBefore)
    // every id encoded exactly once
    assert(after.codes.count() == emb.count())
    assert(after.codes.select("nb").distinct().count() == emb.count())
    // probes drawn from the APPENDED batch now retrieve neighbors from
    // the full corpus with useful recall vs the exact baseline
    val probes = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q"), col("embedding").as("qe"))
    val approx = VectorQueries.ivfAdcProbe(spark, after, emb, probes)
      .select("q", "nb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = VectorQueries.vCosineTopK.fn(spark, dir)
      .filter(col("rank") <= 3).select("q", "nb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"post-append recall@3 = $recall (books trained on 80% snapshot)")
    // an id already in the index must trip the disjointness gate
    val ex = intercept[IllegalArgumentException] {
      VectorQueries.appendStoredPqIndex(spark, path, emb.filter(col("vec_id") < 10))
    }
    assert(ex.getMessage.contains("disjoint"))

    // compaction rewrites the accumulated code file-groups without
    // changing ANY probe result
    def codeFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      // resolve the LIVE version dir — after a compaction the codes
      // table lives in a versioned directory, not `$path/codes`
      walk(new java.io.File(
        graft.sources.IndexStore.tableDataPath(spark, path, "codes")))
        .count(_.getName.endsWith(".parquet"))
    }
    val beforeRows = VectorQueries.ivfAdcProbe(
      spark, VectorQueries.readStoredPqIndex(spark, path), emb, probes)
      .collect().map(_.toSeq).toSeq
    val filesBefore = codeFiles()
    VectorQueries.compactStoredPqIndex(spark, path, filesPerList = 1)
    assert(codeFiles() < filesBefore,
      s"compaction should reduce the code file count (was $filesBefore)")
    assert(VectorQueries.ivfAdcProbe(
        spark, VectorQueries.readStoredPqIndex(spark, path), emb, probes)
      .collect().map(_.toSeq).toSeq == beforeRows,
      "compaction changed probe results")
  }

  test("the read-back memo never serves a stale index within one application") {
    // own source dir so the test can regenerate/append without touching
    // the shared fixtures
    val srcDir = tempDir("graft_pq_memo")
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    emb.filter(col("vec_id") >= 100).write.parquet(s"$srcDir/embeddings.parquet")
    val codes0 = VectorQueries.storedPqIndex(spark, srcDir).codes.count()
    // (a) appendStoredPqIndex against the SAME stored path: the memoized
    // codes frame listed its parquet files pre-append and cannot see the
    // new ones — the append must drop the memo so the next read-back
    // scans the grown table
    val path = graft.sources.IndexStore.indexPath(
      srcDir, s"pq_m${VectorQueries.pqM}_k${VectorQueries.pqKSub}_c${VectorQueries.pqCoarseK}")
    VectorQueries.appendStoredPqIndex(spark, path, emb.filter(col("vec_id") < 100))
    val codes1 = VectorQueries.storedPqIndex(spark, srcDir).codes.count()
    assert(codes0 < codes1 && codes1 == emb.count(),
      s"post-append read-back must see the appended codes ($codes0 -> $codes1)")
    // (b) a REGENERATED source (new fingerprint) within the same app:
    // the memo key embeds the source stamp, so the stale entry is
    // bypassed and the rebuilt index is served
    Thread.sleep(1100) // parquet rewrite below may preserve len; mtime granularity 1s
    emb.filter(col("vec_id") >= 300).write.mode("overwrite")
      .parquet(s"$srcDir/embeddings.parquet")
    val codes2 = VectorQueries.storedPqIndex(spark, srcDir).codes.count()
    assert(codes2 == emb.filter(col("vec_id") >= 300).count(),
      s"a regenerated source must be re-indexed, not served from the memo (got $codes2)")
  }
}
