package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.BloomMightContainExpr
import graft.operators.ContaminationQueries

/** x2_bloom_scrub invariants the DuckDB oracle cannot see:
  *  - the codegen'd bloom membership expression is NEVER false on an
  *    inserted key (soundness of the pre-filter),
  *  - the bloom sits BELOW the confirm join's shuffle (map-side prune),
  *  - the composed bloom+confirm result equals the no-bloom exact
  *    computation (false positives all die in the confirm join).
  */
class BloomScrubSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("bloom membership has no false negatives (codegen path)") {
    import spark.implicits._
    val keys = (0 until 2000).map(i => s"key-$i-${i * 2654435761L}")
    val bf = org.apache.spark.util.sketch.BloomFilter.create(2000, 0.01)
    keys.foreach(k => bf.putBinary(k.getBytes("UTF-8")))
    val bc = spark.sparkContext.broadcast(bf)
    val hits = keys.toDF("k")
      .filter(BloomMightContainExpr(col("k"), bc))
      .count()
    assert(hits == 2000L, "an inserted key failed the membership probe")
  }

  test("bloom false-positive rate is near the configured fpp") {
    import spark.implicits._
    val bf = org.apache.spark.util.sketch.BloomFilter.create(2000, 0.01)
    (0 until 2000).foreach(i => bf.putBinary(s"in-$i".getBytes("UTF-8")))
    val bc = spark.sparkContext.broadcast(bf)
    val fp = (0 until 20000).map(i => s"out-$i").toDF("k")
      .filter(BloomMightContainExpr(col("k"), bc))
      .count()
    assert(fp < 20000L * 0.05, s"fp=$fp — bloom sized wrong (expected ~1%)")
  }

  test("bloom prune sits below the confirm join's exchange") {
    val plan = ContaminationQueries.bloomScrub(spark, dir)
      .queryExecution.executedPlan.toString
    val bloomAt = plan.indexOf("bloommightcontainexpr")
    assert(bloomAt >= 0, "bloom filter missing from the executed plan")
    // the confirm join must appear ABOVE the bloom filter (earlier in
    // the printed tree = nearer the root): the bloom prunes the posting
    // stream FEEDING the join, whatever physical join Spark picks for
    // the data size (broadcast at test sf, shuffled at corpus scale)
    val joinAt = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .map(plan.indexOf).filter(_ >= 0)
    assert(joinAt.nonEmpty, "confirm join missing from the executed plan")
    assert(joinAt.min < bloomAt,
      "bloom prune is not below the confirm join in the executed plan")
  }

  test("stored eval index (x3) reproduces the inline scrub (x2) exactly") {
    val inline = ContaminationQueries.bloomScrub(spark, dir)
      .collect().map(_.toSeq).toSeq
    val stored = ContaminationQueries.bloomScrubStored(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(stored == inline)
    assert(stored.nonEmpty, "sf0.001 scrub found no overlaps — test is vacuous")
  }

  test("x3's eval side is a parquet scan of the stored gram table (no recompute)") {
    // build (or reuse) the index, then inspect the probe plan
    ContaminationQueries.bloomScrubStored(spark, dir).count()
    val p = ContaminationQueries.bloomScrubStored(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("evalgrams_n4") && p.toLowerCase.contains("parquet"),
      "expected the confirm join's eval side to scan the stored gram table\n" + p.take(3000))
    // the eval predicate never appears: only the TRAIN batch is grammed
    assert(!p.contains("% 37) = 0"),
      "eval-side gram recompute leaked into the probe plan\n" + p.take(3000))
  }

  test("bloom+confirm equals the exact no-bloom computation") {
    val viaBloom = ContaminationQueries.bloomScrub(spark, dir)
      .collect().map(_.toSeq).toSeq
    // exact reference: identical pipeline with the bloom pre-filter
    // replaced by nothing (straight join carries the full posting set)
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 4)
      .select(col("doc_id"),
        ContaminationQueries.wordNgrams(col("tk"), 4).as("g"))
    val isEval = col("doc_id") % 37 === 0
    val evalGrams = docs.filter(isEval)
      .select(explode(col("g")).as("gram")).distinct()
    val exact = docs.filter(!isEval)
      .select(col("doc_id").as("b"), size(col("g")).cast("long").as("nb"),
        explode(col("g")).as("gram"))
      .join(evalGrams, "gram")
      .groupBy("b", "nb").agg(countDistinct(col("gram")).as("n_shared"))
      .select(col("b").as("doc_id"), col("nb").as("n_grams"), col("n_shared"),
        round(col("n_shared").cast("double") / col("nb"), 6).as("share_frac"))
      .orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(viaBloom == exact)
    assert(viaBloom.nonEmpty, "sf0.001 scrub found no overlaps — test is vacuous")
  }
}
