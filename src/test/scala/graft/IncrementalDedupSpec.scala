package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupQueries
import graft.sources.Tables

/** Incremental dedup correctness: matching an increment against a
  * corpus index must find EXACTLY the pairs of a full re-mine over
  * corpus ∪ increment that touch the increment — same candidates, same
  * exact-Jaccard verdicts, same canonical orientation. (Signatures are
  * per-doc deterministic, so the index-probe path and the full-run path
  * must agree bit-for-bit.)
  */
class IncrementalDedupSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("incremental run equals the full run's increment-touching pairs") {
    val docs = Tables.documents(spark, dir)
    val full = DedupQueries.minHashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    val expected = full.filter { case (a, b, _) => a < 100 || b < 100 }.toSeq
    val incremental = DedupQueries.minHashPairsIncremental(
        docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSeq
    assert(incremental == expected)
    assert(incremental.nonEmpty, "fixture produced no increment-touching pairs — test is vacuous")
    // the full set must be strictly larger (corpus-internal pairs exist
    // and are correctly NOT re-mined by the incremental path)
    assert(full.length > expected.size,
      "no corpus-internal pairs in fixture — split point needs adjusting")
  }

  test("stored-index incremental path equals the in-memory incremental path") {
    val docs = Tables.documents(spark, dir)
    val inMemory = DedupQueries.minHashPairsIncremental(
        docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSeq
    // d8's production shape: corpus side served entirely from the
    // persisted parquet index (signatures round-trip exactly)
    val stored = DedupQueries.minHashPairsIncrementalStored(
        spark, dir, col("doc_id") >= 100, "id_ge_100", docs.filter(col("doc_id") < 100))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSeq
    assert(stored == inMemory)
    assert(stored.nonEmpty)
  }

  test("stored-index path enforces the raw-id disjointness contract") {
    val docs = Tables.documents(spark, dir)
    val ex = intercept[IllegalArgumentException] {
      DedupQueries.minHashPairsIncrementalStored(
        spark, dir, col("doc_id") >= 100, "id_ge_100",
        docs.filter(col("doc_id") < 150))
    }
    assert(ex.getMessage.contains("disjoint"))
  }

  test("appendable index: day-over-day init -> probe -> append -> probe equals full re-mines") {
    val docs = Tables.documents(spark, dir)
    val path = tempDir("graft_appendable_idx") + "/minhash"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSeq

    // day 0: index the initial snapshot (docs >= 100)
    DedupQueries.initStoredIndex(spark, path, docs.filter(col("doc_id") >= 100))
    // day 1: increment A = ids 50..99 — must match the in-memory
    // incremental run over the same corpus
    val incA = docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
    assert(rows(DedupQueries.probeStoredIndex(spark, path, incA)) ==
      rows(DedupQueries.minHashPairsIncremental(docs.filter(col("doc_id") >= 100), incA)))
    // fold A into the index; day 2: increment B = ids 0..49 now probes
    // corpus ∪ A — equality vs a fresh incremental over docs >= 50
    DedupQueries.appendStoredIndex(spark, path, incA)
    val incB = docs.filter(col("doc_id") < 50)
    val dayTwo = rows(DedupQueries.probeStoredIndex(spark, path, incB))
    assert(dayTwo ==
      rows(DedupQueries.minHashPairsIncremental(docs.filter(col("doc_id") >= 50), incB)))
    assert(dayTwo.nonEmpty, "fixture produced no day-2 pairs — split points need adjusting")
    // appending an already-indexed id must fail the disjointness gate
    val ex = intercept[IllegalArgumentException] {
      DedupQueries.appendStoredIndex(spark, path, incA)
    }
    assert(ex.getMessage.contains("disjoint"))

    // compaction rewrites the accumulated append file-groups into a few
    // files per table without changing ANY probe result
    def fileCount(tbl: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      // resolve the LIVE version dir — after a compaction the table
      // lives in a versioned directory, not `$path/$tbl`
      walk(new java.io.File(
        graft.sources.IndexStore.tableDataPath(spark, path, tbl)))
        .count(_.getName.endsWith(".parquet"))
    }
    val before = fileCount("sig")
    DedupQueries.compactStoredIndex(spark, path, filesPerTable = 1)
    assert(fileCount("sig") < before,
      s"compaction should reduce the sig file count (was $before)")
    assert(rows(DedupQueries.probeStoredIndex(spark, path, incB)) == dayTwo,
      "compaction changed probe results")
  }

  test("disjointness violation fails loudly") {
    val docs = Tables.documents(spark, dir)
    val ex = intercept[IllegalArgumentException] {
      DedupQueries.minHashPairsIncremental(docs, docs.filter(col("doc_id") < 5))
    }
    assert(ex.getMessage.contains("disjoint"))
  }

  test("a geometry-mismatched probe or append fails loudly, never returns empty") {
    val docs = Tables.documents(spark, dir)
    val path = tempDir("graft_geom_idx") + "/minhash"
    DedupQueries.initStoredIndex(spark, path, docs.filter(col("doc_id") >= 100),
      k = 16, bands = 4)
    val inc = docs.filter(col("doc_id") < 100)
    // wrong band count: the probe would hash different band slices and
    // silently find zero corpus candidates — the stamp turns that into
    // a loud contract failure
    val exProbe = intercept[IllegalArgumentException] {
      DedupQueries.probeStoredIndex(spark, path, inc, k = 16, bands = 8)
    }
    assert(exProbe.getMessage.contains("k=16|bands=4"))
    val exAppend = intercept[IllegalArgumentException] {
      DedupQueries.appendStoredIndex(spark, path, inc, k = 8, bands = 4)
    }
    assert(exAppend.getMessage.contains("k=16|bands=4"))
    // matching geometry passes the gate
    assert(DedupQueries.probeStoredIndex(spark, path, inc, k = 16, bands = 4)
      .collect().nonEmpty)
    // an index root with no stamp (crashed init / wrong path) is refused
    val exMissing = intercept[IllegalArgumentException] {
      DedupQueries.probeStoredIndex(spark, path + "_nowhere", inc)
    }
    assert(exMissing.getMessage.contains("geometry stamp"))
  }
}
