package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression net: the properties that make the headline
  * queries scale are pinned here so a refactor cannot silently trade
  * them away — filters reaching the parquet scan, small dimensions
  * broadcast, top-k as TakeOrderedAndProject, and NO cartesian product
  * anywhere in the relational/text/dedup/vector surface.
  */
class PlanAuditSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  // env-independent marker for "this scan reads the stored index":
  // the index root's basename (honors GRAFT_INDEX_DIR overrides)
  private val indexRootName =
    new java.io.File(graft.sources.IndexStore.root).getName

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan (q2)") {
    val p = plan("q2_filter_revenue")
    // strip empty PushedFilters lines; a NON-empty one must remain
    assert(p.replaceAll("PushedFilters: \\[\\]", "").contains("PushedFilters: ["),
      "expected non-empty pushed filters\n" + p.take(2000))
  }

  test("small dimension joins broadcast (q3 region/nation)") {
    assert(plan("q3_cust_per_region").contains("BroadcastHashJoin"))
  }

  test("exact ANN probes broadcast against the corpus (v1)") {
    val p = plan("v1_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("top-k sorts use TakeOrderedAndProject, not a global sort (q11)") {
    assert(plan("q11_top_orders").contains("TakeOrderedAndProject"))
  }

  test("no cartesian product anywhere in the static query surface") {
    // harness/clustering queries run eager jobs at build time; the static
    // suites below cover every join-bearing query shape
    val static = SparkEntry.queries.keys.filter(q =>
      q.startsWith("q") || q.startsWith("t") || q.startsWith("c") ||
        q.startsWith("d1") || q.startsWith("d2") || q.startsWith("d3") ||
        q.startsWith("d4") || q.startsWith("v") || q.startsWith("mm") ||
        q.startsWith("p") || q.startsWith("x"))
    static.foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q contains a cartesian product")
    }
  }

  test("q30 rollup probes the stored sketch table with zero raw-order scan") {
    // first call may build the stored monthly sketches (eager jobs);
    // the RETURNED rollup plan must then read only the index parquet —
    // rescanning orders would defeat the stored-sketch-table pattern
    val p = plan("q30_sketch_union")
    assert(p.contains(indexRootName),
      "q30 rollup must scan the stored sketch table\n" + p.take(1500))
    assert(!p.contains("orders.parquet"),
      "q30 rollup must not rescan raw orders\n" + p.take(1500))
  }

  test("window functions never fall back to a single partition (q9/q10)") {
    for (q <- Seq("q9_window_topn", "q10_window_lag", "q24_range_frame",
                  "t13_sequence_pack", "d12_dup_substrings")) {
      val p = plan(q)
      // a Window over an empty partition spec would force all rows into
      // one task — every window here must be keyed
      assert(!p.contains("Window [") || !p.contains("SinglePartition"),
        s"$q has an unkeyed window\n" + p.take(1500))
    }
  }

  test("chunking is a shuffle-free scan (t12: explode, no join, no aggregation)") {
    val p = plan("t12_doc_chunks")
    // the only exchange allowed is the final ORDER BY's range partition —
    // a hash exchange would mean a join/agg crept into a linear scan
    assert(!p.contains("hashpartitioning"),
      "t12 must not hash-shuffle\n" + p.take(1500))
    assert(!p.contains("Join"), "t12 must not join\n" + p.take(1500))
    assert(p.contains("Generate explode"), "t12 should explode chunk indexes")
  }

  test("PQ codes come from the stored index table, never re-encoded (v6 regression guard)") {
    // VERDICT r6: whole-stage codegen deferred the argmin encode into
    // the broadcast join's inner loop (re-evaluated per candidate row —
    // 10× the stage cost). The codes are now a PERSISTED parquet index
    // (VERDICT r7 #1), so the executed plan must contain NO encode
    // expression (array_min) anywhere — the join side must scan the
    // stored code table.
    val p = plan("v6_pq_ann")
    assert(!p.contains("array_min"),
      "PQ encode leaked into the join-side plan — codes no longer precomputed\n" +
        p.take(2000))
    assert(p.contains(indexRootName),
      "expected a scan over the stored PQ code table\n" + p.take(2000))
  }

  test("d8 probes the stored signature index — zero corpus-side minhash work") {
    // VERDICT r7 #1: the incremental path must read the persisted
    // signature/band tables, never re-shingle or re-minhash the corpus.
    // The increment's own (tiny) signature job runs eagerly at plan
    // construction (Stage), so the executed plan must contain NO minhash
    // expression at all, and must scan the index parquet.
    val p = plan("d8_incremental_dedup")
    assert(!p.toLowerCase.contains("minhashk"),
      "corpus signatures recomputed in-plan — stored index not used\n" + p.take(2000))
    assert(p.contains(indexRootName),
      "expected scans over the stored MinHash index tables\n" + p.take(2000))
  }

  test("p1 pipeline broadcasts the eval gram postings (decontamination join)") {
    // the candidate side must never shuffle its postings — the eval set
    // is the broadcast side of the decontamination join
    val p = plan("p1_curation_pipeline")
    assert(p.contains("BroadcastHashJoin"),
      "expected the eval-gram decontamination join to broadcast\n" + p.take(2000))
  }

  test("v7 IVFADC scans only the routed coarse lists (static partition prune)") {
    val p = plan("v7_ivfadc_ann")
    // the isin literal over the routed lists must reach the stored code
    // table's scan as a PARTITION filter (list_id is the on-disk
    // partition column), not a post-scan filter
    assert(p.contains("PartitionFilters") && p.contains("list_id"),
      "expected a list_id partition filter on the code-table scan\n" + p.take(3000))
    assert(!p.contains("array_min"),
      "PQ/coarse encode leaked into the query plan\n" + p.take(2000))
  }

  test("t15 heavy hitters confirm via a broadcast semi join (no shuffled candidate join)") {
    val p = plan("t15_heavy_hitters")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "expected the candidate set to broadcast-semi-join the token stream\n" + p.take(3000))
  }

  test("t17 BM25 prunes postings to the workload's terms and ranks per query, never corpus-wide") {
    val p = plan("t17_bm25_search")
    // the corpus explode must be cut down by the broadcast term-union
    // semi-join BEFORE any shuffle — T posting lists, not the vocabulary
    assert(p.contains("LeftSemi") && p.contains("BroadcastHashJoin"),
      "postings must be pruned via a broadcast semi-join on the workload terms\n" + p.take(3000))
    // per-query top-k is a keyed window — a single-partition window
    // would funnel every (query, doc) score into one task. (The plan
    // legitimately contains a SinglePartition exchange for the 1-row
    // corpus-stats aggregate, so assert the window's own spec.)
    assert(p.contains("windowspecdefinition(query_id"),
      "t17 ranking window must be keyed by query_id\n" + p.take(3000))
    // and the rank is limited BEFORE the window shuffle (partial
    // WindowGroupLimit), so only candidate top-k rows move
    assert(p.contains("WindowGroupLimit"),
      "t17 should push a group-limit below the window\n" + p.take(3000))
  }

  test("c7 resampling joins the corpus against a BROADCAST rate table (no corpus shuffle)") {
    val p = plan("c7_mix_resample")
    assert(p.contains("BroadcastHashJoin"),
      "expected the lang->threshold rate table broadcast\n" + p.take(3000))
    // the corpus side must not sort-merge against the 5-row rate table
    assert(!p.contains("SortMergeJoin"),
      "corpus shuffled into a sort-merge join against the rate table\n" + p.take(3000))
  }

  test("p3 manifest reuses p1's guarded-broadcast gram probe and keyed window") {
    val p = plan("p3_curation_manifest")
    assert(p.contains("BroadcastHashJoin"),
      "expected the eval-gram (and flag-set) joins to broadcast\n" + p.take(3000))
    // nothing in the manifest may move the corpus to a single
    // partition (the c5-style scale bug)
    assert(!p.contains("Exchange SinglePartition"),
      "manifest plan moves data to a single partition\n" + p.take(3000))
  }

  test("canonical dedup shuffles on the 16-byte content hash, never on text (d1/p1/p3)") {
    // VERDICT r12 #1: Window.partitionBy(text) made the full document
    // the exchange+sort key; the canonical-copy stats are now a
    // groupBy(md5(text)) pass, so no exchange or window anywhere in
    // d1/p1/p3 may key on the raw text column
    for (q <- Seq("d1_dedup_exact", "p1_curation_pipeline", "p3_curation_manifest")) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning(text#"),
        s"$q shuffles the corpus keyed by the raw text column\n" + p.take(3000))
      assert(!p.contains("windowspecdefinition(text#"),
        s"$q runs a window partitioned by the raw text column\n" + p.take(3000))
    }
    // and d1's stats exchange carries the hash itself
    assert(plan("d1_dedup_exact").contains("hashpartitioning(content_hash#"),
      "d1's aggregate must shuffle on content_hash")
  }

  test("c5 token budget: the only window runs over the one-bin boundary filter") {
    val p = plan("c5_token_budget")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1, s"expected exactly one Window operator, got $windows\n" + p.take(3000))
    // its input must be the quality-equality boundary filter, so the
    // window never sees more than the crossing bin
    assert("quality#\\d+\\) = ".r.findFirstIn(p).isDefined ||
      "quality#\\d+ = ".r.findFirstIn(p).isDefined,
      "expected a quality = <crossing-bin> equality filter below the window\n" + p.take(3000))
  }

  test("t18 PII scrub is a pure scan + one source-keyed aggregate (no join, no window)") {
    val p = plan("t18_pii_scrub")
    assert(!p.contains("Join"), "t18 must not join\n" + p.take(1500))
    assert(!p.contains("Window ["), "t18 must not window\n" + p.take(1500))
    // the only hash exchange is the audit aggregate keyed by source
    assert(p.contains("hashpartitioning(source#"),
      "t18's audit aggregate must shuffle on source\n" + p.take(1500))
    assert("hashpartitioning\\((?!source#)".r.findFirstIn(p).isEmpty,
      "t18 shuffles on something other than the audit key\n" + p.take(1500))
  }

  test("t19 subword encode is one map pass: no join, no window, one BpeStats eval") {
    val p = plan("t19_bpe_tokens")
    assert(!p.contains("Join"), "t19 must not join\n" + p.take(1500))
    assert(!p.contains("Window ["), "t19 must not window\n" + p.take(1500))
    // the struct-returning encode must not be duplicated per consumed
    // field (CollapseProject would re-evaluate the whole greedy encode
    // per projected column)
    assert("(?i)bpestats".r.findAllIn(p).size == 1,
      "t19's encode expression must appear exactly once\n" + p.take(2000))
  }

  test("t22 merge encode is one map pass: no join, no window, one BpeMergeStats eval") {
    val p = plan("t22_bpe_merge_tokens")
    assert(!p.contains("Join"), "t22 must not join\n" + p.take(1500))
    assert(!p.contains("Window ["), "t22 must not window\n" + p.take(1500))
    assert("(?i)bpemergestats".r.findAllIn(p).size == 1,
      "t22's encode expression must appear exactly once\n" + p.take(2000))
  }

  test("c10 cap rank never windows the full per-source corpus") {
    // the two-phase machinery: the rank window's input must sit above
    // the hash pre-filter (a substring(ord,1,8) conv comparison), so a
    // source's full corpus share never reaches the sort
    val p = plan("c10_source_cap")
    assert(p.contains("Window ["), "c10's cap rank window is missing\n" + p.take(1500))
    assert(!p.contains("SinglePartition"),
      "c10's rank window fell back to a single partition\n" + p.take(1500))
    assert(p.contains("conv(substring(ord"),
      "c10's rank input lost the two-phase hash pre-filter\n" + p.take(2500))
  }

  test("t20 pack audit reuses the source exchange: exactly one hash exchange") {
    val p = plan("t20_pack_audit")
    val exchanges = "hashpartitioning\\(".r.findAllIn(p).size
    assert(exchanges >= 1 && p.contains("hashpartitioning(source#"),
      "t20 must shuffle keyed by source\n" + p.take(1500))
    // the aggregate must reuse the window's source exchange — a second
    // source-keyed exchange would mean the reuse regressed
    val sourceKeyed = "hashpartitioning\\(source#".r.findAllIn(p).size
    assert(sourceKeyed == 1,
      s"t20 should have ONE source-keyed exchange, got $sourceKeyed\n" + p.take(2500))
  }

  test("t23 gopher gate is a pure scan→project pass: no join, no hash exchange, no window") {
    val p = plan("t23_gopher_gate")
    assert(!p.contains("Join"), "t23 must not join\n" + p.take(1500))
    assert(!p.contains("Window ["), "t23 must not window\n" + p.take(1500))
    // the only exchange allowed is the final orderBy's range partition
    assert(!p.contains("hashpartitioning("),
      "t23 must not hash-shuffle — every rule is map-side\n" + p.take(2000))
  }

  test("kernel-bearing queries: every codegen stage stays under HotSpot's JIT budget") {
    // the r14 v2 cliff: a generated method between HotSpot's 8000-byte
    // JIT limit and Spark's 65535 hugeMethodLimit runs in the bytecode
    // interpreter with NO plan/UI warning (measured 16 ms/row). Compile
    // every WholeStageCodegen stage of each native-kernel query (and of
    // the panel generator) and assert its largest generated method would
    // actually JIT.
    val hotspotJitLimit = 8000
    // AQE defers codegen collapse to stage materialization; the
    // measurement needs the non-adaptive prepared plan (Bridge contract)
    withoutAqe {
      for ((q, df) <- kernelPlans) {
        val physical = df().queryExecution.executedPlan
        val sizes = org.apache.spark.sql.graft.Bridge.codegenStageSizes(physical)
        assert(sizes.nonEmpty, s"$q produced no WholeStageCodegen stage at all")
        info(s"$q: ${sizes.size} codegen stage(s), largest method ${sizes.map(_._2).max} bytes")
        for ((stage, maxMethod) <- sizes)
          assert(maxMethod < hotspotJitLimit,
            s"$q codegen stage $stage has a $maxMethod-byte method — past the " +
              s"HotSpot JIT budget ($hotspotJitLimit); it will run interpreted")
      }
    }
  }

  test("kernel-bearing queries carry no CodegenFallback expression") {
    withoutAqe {
      for ((q, df) <- kernelPlans) {
        val physical = df().queryExecution.executedPlan
        val fallbacks = org.apache.spark.sql.graft.Bridge.fallbackExpressions(physical)
        assert(fallbacks.isEmpty,
          s"$q evaluates interpreted expressions in-stage: ${fallbacks.distinct.mkString(", ")}")
      }
    }
  }

  private val kernelQueries = Seq("v2_lsh_ann", "d2_minhash_lsh_pairs",
    "t19_bpe_tokens", "t22_bpe_merge_tokens", "d3_simhash_pairs", "v1_cosine_topk",
    "t23_gopher_gate", "t26_tokenizer_fertility", "t32_normalize_scrub")

  // the kernel queries plus the simulation's panel generator
  private def kernelPlans: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
    kernelQueries.map(q => q -> (() => SparkEntry.queries(q)(spark, dir))) :+
      ("panelReps" -> (() => graft.gen.PanelGenerator.panelReps(spark, 2024L,
        graft.gen.PanelGenerator.Config(), 3)))

  test("d13/t32 are pure scan + one source-keyed aggregate (the t18 cheapest-map-pass shape)") {
    for (q <- Seq("d13_intradoc_line_dedup", "t32_normalize_scrub")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join\n" + p.take(1500))
      assert(!p.contains("Window ["), s"$q must not window\n" + p.take(1500))
      assert(p.contains("hashpartitioning(source#"),
        s"$q's audit aggregate must shuffle on source\n" + p.take(1500))
      assert("hashpartitioning\\((?!source#)".r.findFirstIn(p).isEmpty,
        s"$q shuffles on something other than the audit key\n" + p.take(1500))
    }
  }

  test("d14 shuffles only on the canonical key and the audit key (no raw-text exchange)") {
    val p = plan("d14_url_dedup")
    assert(!p.contains("Window ["), "d14 must not window\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), "d14 must not cross join\n" + p.take(1500))
    assert("hashpartitioning\\((?!canonical_url#|source#|url#)".r.findFirstIn(p).isEmpty,
      "d14 shuffles on something other than canonical_url/url/source\n" + p.take(2500))
    // text never enters the dedup plan at all: the QueryDef selects it away
    assert(!p.contains("text#"), "d14 must not carry document text\n" + p.take(1500))
  }

  test("c20's trainer-facing body has no global sort; exchanges are the histogram + the (stage, shard) rank") {
    // the QueryDef wrapper adds a presentation orderBy for the oracle
    // compare — the pin is on the BODY a production caller consumes
    val body = graft.operators.SampleQueries.curriculumPlanOf(
      graft.sources.Tables.documents(spark, dir), nShards = 8)
    val p = body.queryExecution.executedPlan.toString
    assert(!p.contains("rangepartitioning"),
      "c20's body must not range-partition (global sort)\n" + p.take(2000))
    assert("hashpartitioning\\((?!quality#|stage#)".r.findFirstIn(p).isEmpty,
      "c20 shuffles on something other than the histogram/rank keys\n" + p.take(2500))
  }

  test("c19 never shuffles the corpus: assignment map-side, rate table broadcast back") {
    val p = plan("c19_cluster_mix")
    assert(!p.contains("SortMergeJoin"),
      "c19's rate join must broadcast, never sort-merge\n" + p.take(2000))
    assert(!p.contains("Window ["), "c19 must not window\n" + p.take(1500))
    // the only hash exchanges are the two k-row cluster aggregates
    assert("hashpartitioning\\((?!cluster#)".r.findFirstIn(p).isEmpty,
      "c19 shuffles on something other than the cluster key\n" + p.take(2500))
    // the 64-float embedding column never rides an exchange: it is
    // consumed by the map-side argmin before any aggregate
    assert(!"hashpartitioning\\([^)]*embedding".r.findFirstIn(p).isDefined,
      "c19 shuffles embedding payloads\n" + p.take(2500))
  }

  private def withoutAqe[T](body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  test("fromRelease audits scan only the published release (+ index store) — zero raw-corpus scan") {
    // the r17 audit-from-published-release contract (the q30 discipline
    // applied to the governance family). Plan-STRING checks cannot see
    // this: the audit bodies stage their frames (eager localCheckpoints
    // whose ExistingRDD leaves erase the scan lineage), so the gate is
    // the EXECUTED TRACE — every FileSourceScan root fired by any query
    // execution during the steady-state audit. First calls run the
    // lifecycle jobs (release publish, stored vocab/bench/suffix index
    // builds — those legitimately read the corpus ONCE); the audited
    // pass is the second call.
    val audits = Seq("p5f_report_from_release", "p5bf_report_bpe_from_release",
      "p5cf_domain_mix_from_release", "p6f_split_leakage_from_release",
      "x4f_clearance_from_release", "t26f_fertility_from_release",
      "x5f_decon_profile_from_release")
    for (q <- audits) SparkEntry.queries(q)(spark, dir).collect() // lifecycle warm-up
    for (q <- audits) {
      val roots = org.apache.spark.sql.graft.Bridge.scannedFileRoots(spark) {
        SparkEntry.queries(q)(spark, dir).collect()
      }
      // positive evidence first: an under-captured trace must fail here,
      // never pass the forbidden-root check below by omission
      assert(roots.exists(_.contains("graft_release_")),
        s"$q trace shows no release scan — capture broken?\n${roots.mkString("\n")}")
      val raw = roots.filter(_.contains("/root/testdata"))
      assert(raw.isEmpty,
        s"$q rescans the raw corpus: ${raw.mkString(", ")}")
    }
  }

  test("c8 shard shuffle: one exchange keyed by the compact shard id, window keyed too") {
    val p = plan("c8_shard_shuffle")
    // assert the window's presence POSITIVELY first (the t9 discipline):
    // if a plan-render change drops the 'Window [' token, this fails
    // loudly instead of silently disarming the SinglePartition guard
    assert(p.contains("Window ["), "c8's rank window is missing\n" + p.take(1500))
    assert(!p.contains("SinglePartition"),
      "c8's rank window fell back to a single partition\n" + p.take(1500))
    assert(p.contains("hashpartitioning(shard#"),
      "c8's only hash exchange must be keyed by the shard id\n" + p.take(1500))
    assert(!p.contains("hashpartitioning(text#") && !p.contains("hashpartitioning(doc_id#"),
      "c8 shuffles on a non-shard key\n" + p.take(1500))
    assert(!p.contains("Join"), "c8 must not join\n" + p.take(1500))
  }
}
