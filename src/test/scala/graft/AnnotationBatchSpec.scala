package graft

import org.scalatest.funsuite.AnyFunSuite

/** t30 — margin-sampling annotation batch: the selected k docs must be
  * exactly the k smallest-|p−0.5| documents under t16's OWN shipped
  * scores (same stored weights, same feature frame), with the margin
  * boundary deterministic (ties to smallest doc_id). The uncertainty
  * property is what the batch exists for: nothing outside the batch is
  * less sure than anything inside it.
  */
class AnnotationBatchSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"

  test("batch = the 40 least-sure docs under t16's shipped scores, boundary deterministic") {
    val batch = SparkEntry.queries("t30_annotation_batch")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(batch.length == 40)
    // margins consistent with the shipped p_keep
    batch.foreach { case (_, p, m) =>
      assert(math.abs(m - BigDecimal(math.abs(p - 0.5)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
    // recompute the selection from t16's own output
    val scored = SparkEntry.queries("t16_quality_classifier")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
      .map { case (id, p) => (id, p, BigDecimal(math.abs(p - 0.5)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) }
    val want = scored.sortBy(r => (r._3, r._1)).take(40).toSeq
    assert(batch.toSeq == want,
      "batch must be exactly the k smallest-margin docs, ties to smallest id")
    // uncertainty property: nothing outside is less sure than anything inside
    val inIds = batch.map(_._1).toSet
    val maxIn = batch.map(_._3).max
    scored.filterNot(r => inIds(r._1)).foreach { case (id, _, m) =>
      assert(m > maxIn || (m == maxIn && id > batch.filter(_._3 == maxIn).map(_._1).max),
        s"doc $id (margin $m) outside the batch is not less sure than the boundary $maxIn")
    }
  }
}
