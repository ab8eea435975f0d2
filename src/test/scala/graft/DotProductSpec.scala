package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorExpressions.fdot

/** The native codegen'd DotProduct must be bit-identical to the HOF
  * aggregate(zip_with(...)) formulation (same ascending-index order) —
  * the property the DuckDB oracle comparison relies on.
  */
class DotProductSpec extends AnyFunSuite with SparkTestSession {

  test("codegen DotProduct is bit-identical to the HOF formulation") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val hof = aggregate(
      zip_with(col("embedding"), col("embedding"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val diff = emb.select((fdot(col("embedding"), col("embedding")) - hof).as("d"))
      .agg(max(abs(col("d")))).head().getDouble(0)
    assert(diff == 0.0, s"max |native - hof| = $diff")
  }

  test("DotProduct handles double-literal arrays and nulls") {
    val df = spark.range(1).select(
      fdot(array(lit(1.0f), lit(2.0f)), array(lit(3.0), lit(4.0))).as("mixed"),
      fdot(lit(null).cast("array<float>"), array(lit(1.0f))).as("n"))
    val r = df.head()
    assert(r.getDouble(0) == 11.0)
    assert(r.isNullAt(1))
  }

  test("HyperplaneSigs zeroes the signature on a wrong-dimension embedding (DotProduct's contract)") {
    // a 2-dim vector against 3-dim planes must NOT hash over the prefix
    // — the composed when(DotProduct >= 0) form it replaces returned
    // NULL dots (→ all-zero signature), so a malformed vector never
    // lands in a nonzero ANN bucket looking valid
    val planes = Array(Array(1.0, 1.0, 1.0), Array(-1.0, 1.0, 1.0))
    def sigs(c: org.apache.spark.sql.Column) =
      graft.functions.VectorExpressions.hyperplaneSigs(c, planes, nTables = 1, bits = 2)
    val r = spark.range(1).select(
      sigs(array(lit(1.0f), lit(2.0f))).as("short"),
      sigs(array(lit(1.0f), lit(2.0f), lit(3.0f))).as("ok")).head()
    assert(r.getSeq[Long](0) == Seq(0L), "wrong-dimension vector must get an all-zero signature")
    assert(r.getSeq[Long](1) == Seq(3L), "well-formed vector hashes normally")
  }

  test("JaccardSim kernel is value-identical to the HOF intersect/union form") {
    import spark.implicits._
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a", "a", "b"), Seq("a")),          // duplicates dedup like array_intersect
      (Seq("x"), Seq("y")),                     // disjoint → 0.0
      (Seq("x"), Seq("x")),                     // identical → 1.0
      (Seq.empty[String], Seq("z"))             // empty left → 0.0
    ).toDF("a", "b")
    val hof = size(array_intersect(col("a"), col("b"))).cast("double") /
      size(array_union(col("a"), col("b"))).cast("double")
    val rows = df.select(
      graft.functions.SetSimilarity.jaccard(col("a"), col("b")).as("k"),
      hof.as("h")).collect()
    rows.foreach { r =>
      val (k, h) = (r.getDouble(0), r.getDouble(1))
      assert(k == h, s"kernel $k != hof $h")
    }
    // two empty arrays: the kernel yields 0.0 — NOT NaN, which Spark
    // SQL sorts GREATER than every double, so a `sim >= threshold`
    // verify filter would otherwise PASS an ∅~∅ pair (r15 ADVICE #1);
    // the ANSI-mode HOF form would RAISE on 0/0 here, so the
    // divergence is deliberate, not accidental
    val empt = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
      .select(graft.functions.SetSimilarity.jaccard(col("a"), col("b")))
      .head().getDouble(0)
    assert(empt == 0.0, s"empty~empty must be 0.0, got $empt")
    // null array propagates null (both binary-expression defaults)
    val n = spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS a, ARRAY('x') AS b")
      .select(graft.functions.SetSimilarity.jaccard(col("a"), col("b")))
      .head()
    assert(n.isNullAt(0))
  }

  test("DotProduct rejects non-numeric-array inputs with a clear error") {
    val e = intercept[Exception] {
      spark.range(1).select(fdot(array(lit("a")), array(lit("b")))).head()
    }
    assert(e.getMessage.contains("dot_product") || e.getMessage.contains("DATATYPE"),
      e.getMessage)
  }
}
