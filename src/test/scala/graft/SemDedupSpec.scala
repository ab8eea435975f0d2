package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.VectorQueries

/** v8_semantic_dedup invariants (the pin only freezes bytes; this spec
  * checks the SEMANTICS): the dropped set equals an exact per-group
  * pairwise recomputation done driver-side, every keeper has a lower id
  * than its dropped vector, the query is deterministic across runs, a
  * probe of an existing stored index never re-fits the quantizer, and
  * the oversized-list guard keeps every comparison group under the cap
  * on a maximally skewed corpus.
  */
class SemDedupSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def run() = VectorQueries.vSemanticDedup.fn(spark, dir)
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))

  private def cos(x: Array[Double], y: Array[Double]): Double =
    x.zip(y).map { case (a, b) => a * b }.sum

  /** Driver-side mirror of semanticDedup over explicit vectors: route
    * to the nearest coarse center, sub-split lists above the cap by
    * vec_id % m, exact pairwise per group, HALF_UP rounding like Spark. */
  private def recompute(emb: Seq[(Long, Array[Double])],
                        coarse: Array[Array[Double]],
                        tau: Double, cap: Long): Seq[(Long, Long, Double, Long)] = {
    def listOf(v: Array[Double]): Int =
      coarse.indices.minBy(i => coarse(i).map(c => c * c).sum / 2.0 - cos(v, coarse(i)))
    val byList = emb.groupBy { case (_, v) => listOf(v) }
    byList.toSeq.flatMap { case (l, members) =>
      val m = math.max(1L, (members.size + cap - 1L) / cap)
      members.groupBy { case (id, _) => id % m }.values.flatMap { group =>
        val sorted = group.sortBy(_._1)
        sorted.flatMap { case (bId, bv) =>
          val keepers = sorted.filter { case (aId, av) => aId < bId && cos(av, bv) > tau }
          keepers.headOption.map { case (aId, av) =>
            (bId, aId, BigDecimal(cos(av, bv))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, l.toLong)
          }
        }
      }
    }.sortBy(_._1)
  }

  test("dropped set matches an exact driver-side recomputation") {
    val out = run()
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1).toSeq
    // the SAME stored quantizer the query routes with (built lazily on
    // first use, then read back from parquet)
    val coarse = VectorQueries.storedPqIndex(spark, dir).coarse
    val expected = recompute(emb, coarse, tau = 0.4, cap = 2000L)
    assert(out.toSeq == expected)
    assert(out.nonEmpty, "τ=0.4 dropped nothing at sf0.001 — test is vacuous")
  }

  test("every keeper has a lower id and an above-threshold cosine") {
    val out = run()
    assert(out.forall { case (v, k, c, _) => k < v && c > 0.4 })
  }

  test("deterministic across two runs") {
    assert(run().toSeq == run().toSeq)
  }

  test("routing reuses the stored quantizer: no k-means re-fit on an existing index") {
    VectorQueries.storedPqIndex(spark, dir) // build (or read) the index once
    val before = graft.operators.LocalKMeans.fitCount.get()
    run()
    assert(graft.operators.LocalKMeans.fitCount.get() == before,
      "v8 over an existing stored index must not re-fit the coarse quantizer")
  }

  test("oversized-list guard: skewed corpus splits the hot list and matches the mirror") {
    import spark.implicits._
    // maximal skew: every vector routes to coarse center 0 (the hot
    // list); ids 0..599, cap 100 → m=6 sublists
    val c0 = Array(1.0, 0.0, 0.0, 0.0)
    val c1 = Array(-1.0, 0.0, 0.0, 0.0)
    val vecs: Seq[(Long, Array[Double])] = (0L until 600L).map { i =>
      // unit vectors near c0 with an id-dependent second component, so
      // near-neighbours (cos > τ) exist within every sublist. Round
      // through Float FIRST — the embedding column is float, and the
      // driver mirror must see the same values Spark computes on
      val t = (i % 7).toDouble / 20.0
      i -> Array(math.cos(t), math.sin(t), 0.0, 0.0).map(d => d.toFloat.toDouble)
    }
    val embDf = vecs.map { case (i, v) => (i, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val cap = 100L
    val got = VectorQueries.semanticDedup(embDf, Array(c0, c1), tau = 0.95, listCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val expected = recompute(vecs, Array(c0, c1), tau = 0.95, cap = cap)
    assert(got == expected, s"skew-corpus result drifted from the driver mirror")
    assert(got.nonEmpty)
    // the guard actually engaged: with m=6 sublists, comparison groups
    // are ≤ cap, so no dropped vector may cite a keeper in a different
    // sublist (id % 6 differs) — and at least one same-sublist pair of
    // different id%6 classes from the unsplit world must be absent
    assert(got.forall { case (v, k, _, _) => v % 6 == k % 6 },
      "sub-split groups must never pair across sublists")
  }
}
