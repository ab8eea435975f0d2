package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SampleQueries

/** c18 — the composed quota-driven mix-planning chain (r17 queue #6):
  * c7 temperature resample → c17 water-fill quotas → quota-driven
  * per-source token cap → c12 epoch-salted shard plan. Pins
  * (a) the composition equals chaining the standalone building blocks
  * by hand, (b) the two-phase binned cap equals the one-window
  * cum-≤-quota rule on a fixture big enough to exercise whole-kept /
  * crossing / wholly-dropped bins, (c) quota tightness (kept ≤ quota,
  * next doc would exceed), and (d) the budget ≥ availability
  * degeneracy (cap is a no-op, every source trains one epoch).
  * Cross-engine agreement end-to-end is the c18 oracle row's job.
  */
class MixChainSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def docs(dir: String = "/root/testdata/sf0.001") =
    graft.sources.Tables.documents(spark, dir)

  private def rows(df: DataFrame) = df.collect().toSeq.map(_.toString)

  test("composition equals the standalone blocks chained by hand") {
    val d = docs()
    val composed = rows(SampleQueries.mixPlanChainOf(
      d, budget = 3000L, maxEpochs = 4, nShards = 8))
    val kept = SampleQueries.mixResampleKept(d)
    val chained = rows(SampleQueries.epochExpandOf(
      SampleQueries.sourceTokenCapOf(
        kept, SampleQueries.waterFillOf(kept, 3000L), maxEpochs = 4),
      nShards = 8))
    assert(composed == chained && composed.nonEmpty)
  }

  test("two-phase binned cap equals the one-window cum-≤-quota rule") {
    import org.apache.spark.sql.expressions.Window
    // 400 ten-token docs in one source + 60 in another: the 256-bin
    // grid gets multi-doc bins, so all three bin classes (wholly kept,
    // crossing, wholly dropped) genuinely occur at quota ≈ half
    val many = (1L to 400L).map(i => (i, "s1", (1 to 10).map(j => s"w${i}_$j").mkString(" "))) ++
      (401L to 460L).map(i => (i, "s2", (1 to 10).map(j => s"v${i}_$j").mkString(" ")))
    val kept = many.toDF("doc_id", "source", "text").withColumn("lang", lit("en"))
    val quotas = Seq(("s1", 2000L), ("s2", 300L)).toDF("source", "quota_tokens")
    val got = SampleQueries.sourceTokenCapOf(kept, quotas, maxEpochs = 4)
      .select("source", "doc_id", "n_tokens", "quota_tokens", "kept_tokens", "n_epochs")
      .orderBy("source", "doc_id")
    // the distribution-free reference: one cumulative window per source
    val ref = kept
      .select(col("doc_id"), col("source"),
        md5(concat(lit("cap:"), col("doc_id").cast("string"))).as("ord"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(quotas, "source")
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.partitionBy("source").orderBy(col("ord"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum") <= col("quota_tokens"))
    val refEp = ref.groupBy("source")
      .agg(sum("n_tokens").as("kept_tokens"), max("quota_tokens").as("__q"))
      .withColumn("n_epochs", least(lit(4L), greatest(lit(1L),
        ceil(col("__q").cast("double") / col("kept_tokens")).cast("long"))))
    val want = ref.join(refEp.select("source", "kept_tokens", "n_epochs"), "source")
      .select("source", "doc_id", "n_tokens", "quota_tokens", "kept_tokens", "n_epochs")
      .orderBy("source", "doc_id")
    assert(rows(got) == rows(want))
    // quota tightness: kept ≤ quota, and s1 genuinely capped (dropped docs)
    val ktSeq = got.select("source", "kept_tokens", "quota_tokens").distinct().collect()
    ktSeq.foreach(r => assert(r.getLong(1) <= r.getLong(2)))
    assert(got.filter(col("source") === "s1").count() == 200L,
      "s1: exactly quota/doc_tokens = 2000/10 docs survive")
    assert(got.filter(col("source") === "s2").count() == 30L)
  }

  test("budget ≥ availability: cap is a no-op and every source trains one epoch") {
    val d = docs()
    val kept = SampleQueries.mixResampleKept(d)
    val capped = SampleQueries.sourceTokenCapOf(
      kept, SampleQueries.waterFillOf(kept, budget = 100000000L), maxEpochs = 4)
    assert(capped.count() == kept.count(),
      "a saturating budget must keep every resampled doc")
    assert(capped.select("n_epochs").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(1L), "quota == availability ⇒ ceil(quota/kept) == 1")
  }

  test("sources whose quota admits no document disappear from the plan") {
    val kept = Seq((1L, "s1", (1 to 20).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val quotas = Seq(("s1", 5L)).toDF("source", "quota_tokens")
    assert(SampleQueries.sourceTokenCapOf(kept, quotas, 4).count() == 0L)
  }
}
