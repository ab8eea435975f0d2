package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupQueries

/** graft.plans.Stage mode equivalence: the cluster-mode reliable
  * checkpoint (spark.graft.reliableCheckpoint=true + a checkpoint dir)
  * must produce exactly the same results as the default localCheckpoint
  * mode through a real multi-Stage pipeline (d2's minhash pairs runs
  * .staged three times: gram frame, memo entry, and — via clustering —
  * the CC rounds).
  */
class StageSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("reliable-checkpoint mode produces identical results to localCheckpoint mode") {
    DedupQueries.clearPairsMemo()
    val localMode = DedupQueries.dMinHash.fn(spark, dir).collect().toSeq

    val ckptDir = tempDir("graft_ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      DedupQueries.clearPairsMemo()
      val reliableMode = DedupQueries.dMinHash.fn(spark, dir).collect().toSeq
      assert(reliableMode == localMode)
      // the reliable path actually wrote checkpoint data (i.e. the switch
      // really changed the mechanism, not just the results)
      val wrote = new java.io.File(ckptDir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint data written")
    } finally {
      spark.conf.unset("spark.graft.reliableCheckpoint")
      DedupQueries.clearPairsMemo()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckptDir))
    }
  }

  test("mis-configured reliable mode (no checkpoint GC) is detected, warned, and still correct") {
    // this session's SparkConf does NOT set
    // spark.cleaner.referenceTracking.cleanCheckpoints — exactly the
    // silent-disk-leak deployment Stage must flag (VERDICT r7 #6)
    assert(!graft.plans.Stage.reliableGcConfigured(spark))

    val ckptDir = tempDir("graft_ckpt_leak")
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      import graft.plans.Stage.StageOps
      // staging must WARN (non-fatally) and still materialize correctly.
      // spark.range, not a Seq.toDF literal: Stage is idempotent on
      // LocalRelations (r21) and a literal would skip the warn path
      // this test exists to exercise
      val out = spark.range(1, 4).toDF("x").staged.collect().map(_.getLong(0)).sorted
      assert(out.sameElements(Array(1L, 2L, 3L)))
    } finally {
      spark.conf.unset("spark.graft.reliableCheckpoint")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckptDir))
    }
  }

  test("Stage is idempotent on already-materialized and driver-local frames") {
    import graft.plans.Stage.StageOps
    import spark.implicits._
    // a checkpointed frame re-staged must come back as the SAME frame
    // (no second materialization job) — the x5 evalG.staged →
    // guardedBroadcast(Stage(...)) composition (r21)
    val once = spark.range(1, 10).toDF("x").staged
    assert(graft.plans.Stage(once) eq once)
    // a LocalRelation is driver-local data — nothing to materialize
    val local = Seq(1, 2, 3).toDF("x")
    assert(graft.plans.Stage(local) eq local)
    // but any transformation ON TOP of a checkpoint still stages
    val derived = once.filter($"x" > 3)
    assert(!(graft.plans.Stage(derived) eq derived))
  }
}
