package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Committed-hash pins for every driver query with no DuckDB oracle
  * (`no_oracle` in CORRECTNESS_r*.json): the operators whose semantics
  * DuckDB cannot express (iterative MinHash/LSH/k-means/IRLS, the MC
  * harness). Each is fully deterministic by construction (counter-based
  * RNG, seeded hyperplanes/k-means, fixed convergence rules), so its
  * sf0.01 result set is pinned to a canonical hash — the same
  * column-sorted value compare the driver applies to oracle-checked
  * queries, upgrading these rows from "rows-only" to machine-checked.
  *
  * Regenerate after an INTENTIONAL semantic change with:
  * `sbt 'Test/runMain graft.Regen pins'` (prints STABLE/UNSTABLE per
  * query; only commit STABLE hashes).
  */
class FixturePinSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"

  private val pins = Map(
    "d2_minhash_lsh_pairs"     -> "396c7e47dbca408d6f2d5f53f97504c8",
    "d3_simhash_pairs"         -> "85d44afab5b47af6b0831d85865ea7bb",
    "d5_dedup_clusters"        -> "329f0ddcd222f8650213c75d1bcd870b",
    "d8_incremental_dedup"     -> "f89d5243e5b53a68087bd2969f1a3907",
    "g1_panel_summary"         -> "ec263564355c1e5a81565545027cba56",
    "q29_sketch_stats"         -> "04077381830a72d04d535c0f065ad8fb",
    // repinned each time the driver regenerates /root/testdata (last:
    // r22 mid-round regeneration, 2026-08-19 19:27) — q30's
    // orders/events input moves per regeneration while
    // documents/embeddings stay identical, so this is the one pin
    // expected to drift at round boundaries; Regen pins reported
    // the new hash STABLE across reps, every other pin held
    "q30_sketch_union"         -> "7991473430476d2b3ef76565c6b7c732",
    "s3_logistic_irls"         -> "3142949dbddbd4c5163a2c857e2cb0c4",
    "t11_compression_ratio"    -> "068631635d8d574890409ff69d985229",
    // t16 left the pin set in r16: frozen stored coefficients made the
    // scoring pass closed-form SQL, so it is DuckDB-oracled now
    "s5_awcls"                 -> "dd305b961e07996c4b4fed4b5e84cb64",
    "s6_aic_ladder"            -> "a47246fafb616d117be73e04f0eac926",
    "v2_lsh_ann"               -> "bd1e71d161aa4294e918aa07b8dc22c0",
    "v3_embed_neardup"         -> "73b19f18c790733cac4ead62c2fd7327",
    "v5_ivf_ann"               -> "afd848323e99e775dd15dee6070bd772",
    "v6_pq_ann"                -> "c0eeb3a88ad778f4ef7b11eb1a286f62",
    "v7_ivfadc_ann"            -> "b2ebb6a2bc4c986d3d7a3882599da029",
    "v8_semantic_dedup"        -> "ee01b2de9eb64bd35e19265c76b77c92",
    // r17: ANN-routed semantic decontamination (deterministic routing/
    // shortlist/re-rank); exact-agreement gates in SemanticDecontaminationSpec
    "x6b_semantic_decon_ann"   -> "d64922805b83a9265d9d87741ef37f14")

  test("every no_oracle driver query is hash-pinned") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == pins.keySet,
      s"pin set out of date: missing ${noOracle -- pins.keySet}, stale ${pins.keySet -- noOracle}")
  }

  pins.foreach { case (name, expected) =>
    test(s"$name matches its committed sf0.01 hash") {
      val got = CanonicalHash(SparkEntry.queries(name)(spark, dir))
      assert(got == expected,
        s"$name canonical hash drifted: got $got, pinned $expected — if the " +
          "change is intentional, regenerate via Regen pins")
    }
  }

  test("signed-zero canary: round-produced -0.0 candidates normalize to +0.0 (the c14 class)") {
    // the r15 c14 failure class, pinned as a standing fixture (r16
    // queue #8): a log-ratio straddles zero, so a tiny-negative
    // pre-round value is a genuine -0.0 candidate under IEEE
    // sign-preserving rounding. Spark's round (BigDecimal HALF_UP) must
    // emit +0.0 — the invariant the SCALE.md "Signed-zero audit" table
    // rests on ("Spark round can never produce -0.0"). The compare
    // rides CanonicalHash's %.6f rendering — exactly the driver's hash
    // blindness profile, where "-0.000000" != "0.000000" — so a future
    // regression to a sign-preserving kernel trips in `sbt test`, not
    // at the driver gate.
    import spark.implicits._
    val actual = Seq(
      (1L, 1.0, 1.0000000001), // log-ratio ~ -1e-10: the -0.0 candidate
      (2L, 1.0000000001, 1.0), // ~ +1e-10: rounds to +0.0
      (3L, 1.0, 2.0),          // genuinely negative: sign must survive
      (4L, 1.0, 1.0))          // exactly zero
      .toDF("id", "a", "b")
      .select(col("id"), round(log(col("a") / col("b")), 6).as("logratio"))
    val expected = Seq((1L, 0.0), (2L, 0.0), (3L, -0.693147), (4L, 0.0))
      .toDF("id", "logratio")
    assert(CanonicalHash(actual) == CanonicalHash(expected),
      "a round-produced column emitted a signed zero (or drifted) — see " +
        "SCALE.md 'Signed-zero audit'")
  }

  test("documents fixture is pure ASCII (mm2 oracle byte==codepoint invariant)") {
    // the mm2 DuckDB oracle reproduces the Spark byte histogram from
    // CODEPOINTS, which is only valid while every document is ASCII
    val nonAscii = graft.sources.Tables.documents(spark, dir)
      .filter(not(col("text").rlike("^[\\x00-\\x7F]*$"))).count()
    assert(nonAscii == 0L, s"$nonAscii non-ASCII documents — mm2 oracle assumption broken")
  }
}
