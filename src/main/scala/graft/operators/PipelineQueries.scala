package graft.operators

import org.apache.spark.sql.functions._

import graft.plans.Stage.StageOps
import graft.sources.Tables

/** END-TO-END corpus-curation pipeline — the composition every
  * pretraining data release actually runs, expressed as ONE declarative
  * Spark plan so Catalyst sees (and optimizes) the whole flow:
  *
  *   exact dedup (canonical copy survives)
  *     → quality gate (the t9 Gopher-style 5-rule battery)
  *     → eval-set decontamination (drop any candidate sharing a distinct
  *       5-gram with the held-out set — x1's gram machinery)
  *     → deterministic content-keyed train/val/test split (c3's octet)
  *     → per-(source, split) release audit.
  *
  * This is the integration proof for the operator library: each stage
  * reuses the SAME building blocks its standalone query uses
  * (TextQueries.qualityRuleFrame, ContaminationQueries.wordNgrams, the
  * c3 split octet), and the whole composition is DuckDB-oracle-checked
  * end-to-end — a wrong interaction between any two stages (join
  * duplication, dropped columns, filter ordering) breaks the hash.
  *
  * Scale shape: dedup is one content-hash-keyed aggregate (compact
  * 16-byte exchange key, map-side combine); the quality battery's only
  * shuffle is bounded by (doc, distinct token); the eval gram postings
  * go through the MEASURED broadcast guard (a benchmark set is small by
  * convention, but a growing benchmark suite breaks the convention
  * silently — so the pipeline reuses x1's count-then-fallback
  * discipline rather than assuming) and the candidate side never
  * shuffles its postings on the broadcast path; the split is a pure
  * expression; the audit is the only corpus-keyed aggregate. At 100 TB
  * every stage is a linear scan plus bounded shuffles — there is no
  * all-pairs work anywhere.
  */
object PipelineQueries {

  /** The released documents (p1's `clean` set + split column) — ONE
    * definition shared by p1 (aggregates it into the audit) and p4
    * (writes it through the reproducible release sink). */
  private[graft] def releasedDocs(
      s: org.apache.spark.sql.SparkSession, dir: String,
      maxBroadcastEvalGrams: Long = 10000000L)
      : org.apache.spark.sql.DataFrame =
    releasedDocsOf(Tables.documents(s, dir), maxBroadcastEvalGrams)

  /** Steps 1–2 of the release stack plus eval exclusion: the candidate
    * set the decontamination step sees. Split out (r16) so x4's
    * benchmark clearance reports on the SAME candidates the release
    * drops from — a drifted copy would certify the wrong corpus. */
  /** Exact dedup: the canonical (min doc_id) copy of each text — ONE
    * definition shared by p1's candidate stack and p9's funnel.
    * VERDICT r12 #1: keyed by the 16-byte md5 hash, not the text —
    * ONE groupBy(hash) shuffle whose map-side partial aggregation
    * collapses duplicate texts before any bytes move, with min_by
    * carrying the canonical row so no join-back is needed. (The old
    * Window.partitionBy(text) shuffled AND sorted full multi-KB
    * documents on the document itself as the key.) */
  private[graft] def exactCanonOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .groupBy(md5(col("text")).as("__h"))
      .agg(min_by(struct(docs.columns.map(col): _*), col("doc_id")).as("__r"))
      .select(col("__r.*"))

  private[graft] def preCandidatesOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      // 1. exact dedup (shared exactCanonOf). NOT staged (r22): since
      // the r21 kernel predicate replaced the battery join-back, the
      // canonical set has exactly ONE consumer — the filter chain into
      // `pre` — so its old checkpoint materialized the whole corpus an
      // extra time per funnel construct for zero sharing (guide §1.2;
      // the dedup aggregate now fuses straight into the kernel gate,
      // and `pre` below is the single materialization point)
      val canon = exactCanonOf(docs)
      // 2. quality gate — ONE kernel predicate per row (r21): the old
      // keepIds = battery→filter→select(doc_id)→join-back re-keyed the
      // corpus on a corpus-sized id set (a full document exchange at
      // scale, guide §2.4); TextQueries.qualityKeepExpr is the same
      // five rules as one row filter (t9's sub-2-token drop is
      // subsumed by the 30-token word-count floor).
      // eval docs (x1's held-out predicate) are benchmark data — they
      // are never part of the release themselves
      // staged: pre feeds the candidate gram pass AND the left-anti base
      canon.filter(TextQueries.qualityKeepExpr(
          split(col("text"), " "), col("n_chars")))
        .filter(!ContaminationQueries.isEval)
        .staged
  }

  /** `preShared`: callers that already hold the (staged) candidate
    * frame pass it in so the canon+quality stack runs once — x4 needs
    * BOTH the candidates and the release, and without sharing it paid
    * the dedup+gate work twice. The decon step always recomputes
    * inside (that independence is x4's regression-gate property). */
  private[graft] def releasedDocsOf(
      docs: org.apache.spark.sql.DataFrame,
      maxBroadcastEvalGrams: Long = 10000000L,
      preShared: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
      val pre = preShared.getOrElse(preCandidatesOf(docs))
      // 3. decontamination — the SHARED gram probe (one definition for
      // p1 and p3, so the manifest's contaminated set can never drift
      // from the release's)
      val clean = pre.join(
        contaminatedIds(docs, pre, maxBroadcastEvalGrams), Seq("doc_id"), "left_anti")
      // 4. deterministic split — the SAME shared column as c3
      clean.withColumn("split", SampleQueries.splitCol)
  }

  /** Candidates (from `pre`) sharing ≥ 1 distinct 5-gram with ANY eval
    * doc (from `docs`). Gram frames are materialized before the
    * explodes (the InferFiltersFromGenerate discipline, x1/d7); the
    * deduped eval grams go through the MEASURED broadcast guard. ONE
    * definition consumed by both p1's release and p3's manifest. */
  private def contaminatedIds(
      docs: org.apache.spark.sql.DataFrame,
      pre: org.apache.spark.sql.DataFrame,
      maxBroadcastEvalGrams: Long): org.apache.spark.sql.DataFrame =
    contaminatedIdsByGrams(pre, evalGramsOf(docs), maxBroadcastEvalGrams)

  /** The deduped 5-gram set of `docs`'s held-out eval slice — the
    * decon probe side, factored out (r20) so p12's stored-index path
    * can persist day-1's grams once and union each increment's own:
    * eval membership is per-doc deterministic, so
    * evalGramsOf(a ∪ b) ≡ (evalGramsOf(a) ∪ evalGramsOf(b)).distinct —
    * the fold algebra the stored `evalgrams` table rests on. Built
    * from the RAW corpus (never a funnel stage): eval docs are
    * benchmark data and contribute grams whether or not any upstream
    * stage kept them. */
  private[graft] def evalGramsOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    QueryDef.spread(docs).filter(ContaminationQueries.isEval)
      .select(split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 5)
      .select(ContaminationQueries.wordNgrams(col("tk"), 5).as("g"))
      .staged
      .select(explode(col("g")).as("gram")).distinct()

  /** [[contaminatedIds]] with the eval-gram frame supplied directly —
    * the seat p12's day-2 path feeds from the stored day-1 gram table
    * plus the increment's own grams, so decon never re-scans day-1. */
  private[graft] def contaminatedIdsByGrams(
      pre: org.apache.spark.sql.DataFrame,
      evalG: org.apache.spark.sql.DataFrame,
      maxBroadcastEvalGrams: Long): org.apache.spark.sql.DataFrame = {
    val candG = QueryDef.spread(pre)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 5)
      .select(col("doc_id"), ContaminationQueries.wordNgrams(col("tk"), 5).as("g"))
      .staged
      .select(col("doc_id"), explode(col("g")).as("gram"))
    candG
      .join(QueryDef.guardedBroadcast(evalG, maxBroadcastEvalGrams), "gram")
      .select(col("doc_id")).distinct()
  }

  private[graft] def curationPipeline(
      s: org.apache.spark.sql.SparkSession, dir: String,
      maxBroadcastEvalGrams: Long = 10000000L)
      : org.apache.spark.sql.DataFrame =
    // 5. per-(source, split) release audit
    releasedDocs(s, dir, maxBroadcastEvalGrams)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"),
        sum(col("n_chars").cast("long")).as("total_chars"))
      .orderBy("source", "split")

  val pCuration = QueryDef(
    "p1_curation_pipeline",
    (s, dir) => curationPipeline(s, dir),
    Some("""
      WITH canon AS (
        SELECT doc_id, text, source, n_chars
        FROM (SELECT doc_id, text, source, n_chars,
                     MIN(doc_id) OVER (PARTITION BY text) AS m FROM documents)
        WHERE doc_id = m),
      b AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS tk
        FROM canon WHERE len(string_split(text, ' ')) >= 2),
      tc AS (
        SELECT doc_id, t AS tok, COUNT(*) AS c
        FROM b, UNNEST(b.tk) AS u(t) GROUP BY doc_id, t),
      tp AS (SELECT doc_id, MAX(c) AS max_c FROM tc GROUP BY doc_id),
      q AS (
        SELECT b.doc_id FROM b JOIN tp USING (doc_id)
        WHERE len(tk) BETWEEN 30 AND 1000
          AND ((n_chars - CAST(len(tk) - 1 AS DOUBLE)) / len(tk)) BETWEEN 3.0 AND 10.0
          AND len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) >= 2
          AND CAST(tp.max_c AS DOUBLE) / len(tk) <= 0.2
          AND 1.0 - CAST(len(list_distinct(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i+1]))) AS DOUBLE) / (len(tk) - 1) <= 0.3),
      pre AS (
        SELECT canon.* FROM canon JOIN q USING (doc_id) WHERE doc_id % 37 <> 0),
      evalg AS (
        SELECT DISTINCT u.t AS gram
        FROM (SELECT list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT string_split(text, ' ') AS tk FROM documents
                    WHERE doc_id % 37 = 0)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      candg AS (
        SELECT doc_id, u.t AS gram
        FROM (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM pre)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      contaminated AS (SELECT DISTINCT doc_id FROM candg JOIN evalg USING (gram)),
      clean AS (
        SELECT * FROM pre
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      a AS (
        SELECT source, doc_id, n_chars,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'cc' THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM clean)
      SELECT source, split, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM a GROUP BY source, split ORDER BY source, split"""))

  /** Release-assembly pipeline v2 (p2) — the ROUND-9 operator
    * composition: bloom-pruned decontamination scrub → token-budget
    * selection → per-source release audit, again as one declarative
    * plan reusing the standalone operators' building blocks
    * (ContaminationQueries.bloomScrub's dropped set,
    * SampleQueries.qualityTokenFrame / tokenBudgetSelect) and
    * oracle-checked END-TO-END.
    *
    * Scale shape: the scrub side is x2's (compact bloom broadcast
    * map-side, exact confirm shuffle bounded by true overlaps); its
    * dropped set — overlap-sized, tiny when the corpus is clean, but
    * corpus-sized in the worst case (a heavily contaminated crawl can
    * drop a large fraction of it), so it goes through the MEASURED
    * broadcast guard before the left-anti join rather than assuming;
    * the budget selection is c5's bin-threshold plan (no un-partitioned
    * window); the audit is one source-keyed aggregate with
    * decimal-exact quality sums.
    */
  private[graft] def releasePipeline(
      s: org.apache.spark.sql.SparkSession, dir: String,
      maxBroadcastDropped: Long = 10000000L)
      : org.apache.spark.sql.DataFrame = {
      // 1. scrub: train docs sharing a 4-gram with the eval set are
      // dropped; eval docs themselves are benchmark data, never shipped.
      // The STORED eval index (x3's lifecycle) — a release pipeline
      // reruns while the benchmark set stays fixed, so the eval grams
      // are probed, never recomputed
      val dropped =
        ContaminationQueries.bloomScrubStored(s, dir).select(col("doc_id"))
      // eval membership via the ONE shared predicate (a drifted copy
      // would silently ship eval docs); the guard STAGES the dropped
      // set (so the count and the anti-join build read the
      // materialized scrub result instead of re-running it — spread's
      // df.rdd + staging = two executions otherwise) and only
      // broadcasts when the measured count is under the bound
      val clean = Tables.documents(s, dir)
        .filter(!ContaminationQueries.isEval)
        .join(QueryDef.guardedBroadcast(dropped, maxBroadcastDropped),
          Seq("doc_id"), "left_anti")
      // 2. best 12k tokens by the t2 quality rule
      val sel = SampleQueries.tokenBudgetSelect(
        SampleQueries.qualityTokenFrame(clean, extraCols = Seq("source")),
        budget = 12000L)
      // 3. release audit
      sel.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(QueryDef.dsum(col("quality"), 6).cast("double") /
            count(lit(1)), 6).as("mean_quality"))
        .orderBy("source")
  }

  val pRelease = QueryDef(
    "p2_release_pipeline",
    (s, dir) => releasePipeline(s, dir),
    Some("""
      WITH d4 AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(tk) - 2),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                      tk[i+3])) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        WHERE len(tk) >= 4),
      e AS (SELECT DISTINCT u.t AS gram
            FROM d4, UNNEST(d4.g) AS u(t) WHERE doc_id % 37 = 0),
      trpost AS (
        SELECT d4.doc_id, u.t AS gram
        FROM d4, UNNEST(d4.g) AS u(t) WHERE d4.doc_id % 37 <> 0),
      dropped AS (
        SELECT DISTINCT doc_id FROM trpost JOIN e USING (gram)),
      clean AS (
        SELECT * FROM documents
        WHERE doc_id % 37 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM dropped)),
      b AS (
        SELECT doc_id, source, n_chars, string_split(text, ' ') AS tk,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt
        FROM clean),
      q AS (
        SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tokens,
               ROUND(CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 0.5 ELSE 0.0 END
                 + len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) / nt * 0.25
                 + len(list_distinct(tk)) / nt * 0.25, 6) AS quality
        FROM b),
      c AS (
        SELECT doc_id, source, n_tokens, quality,
               SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM q)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             ROUND(CAST(SUM(CAST(quality AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6)
               AS mean_quality
      FROM c WHERE cum <= 12000
      GROUP BY source ORDER BY source"""))

  /** Per-document curation decision manifest (p3) — the governance
    * artifact behind p1: for EVERY input document, the release decision
    * and the FIRST pipeline stage that excluded it
    * (`dropped_duplicate` → `held_out_eval` → `dropped_quality` →
    * `dropped_contaminated` → `kept_{train,val,test}`). "Why is doc X
    * not in the release?" is answered by one lookup instead of
    * re-running the pipeline with probes.
    *
    * Every stage set reuses p1's EXACT building blocks (the canonical-
    * copy window, TextQueries.qualityRuleFrame, the shared eval
    * predicate and 5-gram machinery, c3's split octet), so the kept
    * rows here are BY CONSTRUCTION p1's released set — ManifestSpec
    * asserts the per-(source, split) rollup of this manifest equals
    * p1's audit exactly.
    *
    * Scale shape: identical to p1 (hash-keyed dedup, bounded-shuffle
    * quality battery, guarded-broadcast gram probe) plus two left
    * joins of the corpus against doc_id-keyed flag sets — each flag
    * set is a subset of the corpus keyed by the same id, so AQE plans
    * them as shuffle joins on the natural key; no new all-pairs or
    * driver-side state. */
  private[graft] def curationManifest(
      s: org.apache.spark.sql.SparkSession, dir: String,
      maxBroadcastEvalGrams: Long = 10000000L)
      : org.apache.spark.sql.DataFrame =
    curationManifestOf(Tables.documents(s, dir), maxBroadcastEvalGrams)

  /** Frame-parametrized form: the QueryDef reads the driver's documents
    * table; specs feed constructed corpora (duplicate texts, precedence
    * collisions) that the synthetic data does not contain. */
  private[graft] def curationManifestOf(
      docs: org.apache.spark.sql.DataFrame,
      maxBroadcastEvalGrams: Long = 10000000L)
      : org.apache.spark.sql.DataFrame = {
    // VERDICT r12 #1: the per-text min-id is a groupBy over the 16-byte
    // md5 hash joined back on that hash — both exchanges carry the
    // compact key instead of the full document text (the manifest needs
    // is_canon on EVERY row, so unlike releasedDocs a join-back is
    // required here)
    val hashed = docs.withColumn("__h", md5(col("text")))
    val minIds = hashed.groupBy("__h").agg(min(col("doc_id")).as("__m"))
    val flagged = hashed.join(minIds, "__h")
      .withColumn("is_canon", col("doc_id") === col("__m")).drop("__m", "__h")
      .staged
    // q_ok as a row PREDICATE, not a join (r21): the old left-join of
    // the corpus against a corpus-sized qOk id set was a full exchange
    // at scale for a per-row verdict; the kernel predicate computes it
    // in place (true ⇔ canonical AND battery-kept; null otherwise —
    // exactly the left-join's null pattern, since qOk listed only
    // canonical battery-kept ids)
    val qOkCol = when(col("is_canon") && TextQueries.qualityKeepExpr(
      split(col("text"), " "), col("n_chars")), lit(true))
    val pre = flagged.filter(qOkCol.isNotNull)
      .filter(!ContaminationQueries.isEval)
      .staged
    val contaminated = contaminatedIds(docs, pre, maxBroadcastEvalGrams)
      .withColumn("is_contam", lit(true))
    flagged
      .withColumn("q_ok", qOkCol)
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("status",
        when(!col("is_canon"), "dropped_duplicate")
          .when(ContaminationQueries.isEval, "held_out_eval")
          .when(col("q_ok").isNull, "dropped_quality")
          .when(coalesce(col("is_contam"), lit(false)), "dropped_contaminated")
          .otherwise(concat(lit("kept_"), SampleQueries.splitCol)))
      .select(col("doc_id"), col("source"), col("lang"), col("status"))
      .orderBy("doc_id")
  }

  val pManifest = QueryDef(
    "p3_curation_manifest",
    (s, dir) => curationManifest(s, dir),
    Some("""
      WITH f AS (
        SELECT doc_id, text, source, lang, n_chars,
               (doc_id = MIN(doc_id) OVER (PARTITION BY text)) AS is_canon
        FROM documents),
      b AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS tk
        FROM f WHERE is_canon AND len(string_split(text, ' ')) >= 2),
      tc AS (
        SELECT doc_id, t AS tok, COUNT(*) AS c
        FROM b, UNNEST(b.tk) AS u(t) GROUP BY doc_id, t),
      tp AS (SELECT doc_id, MAX(c) AS max_c FROM tc GROUP BY doc_id),
      q AS (
        SELECT b.doc_id FROM b JOIN tp USING (doc_id)
        WHERE len(tk) BETWEEN 30 AND 1000
          AND ((n_chars - CAST(len(tk) - 1 AS DOUBLE)) / len(tk)) BETWEEN 3.0 AND 10.0
          AND len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) >= 2
          AND CAST(tp.max_c AS DOUBLE) / len(tk) <= 0.2
          AND 1.0 - CAST(len(list_distinct(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i+1]))) AS DOUBLE) / (len(tk) - 1) <= 0.3),
      pre AS (
        SELECT f.doc_id, f.text FROM f JOIN q USING (doc_id)
        WHERE is_canon AND doc_id % 37 <> 0),
      evalg AS (
        SELECT DISTINCT u.t AS gram
        FROM (SELECT list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT string_split(text, ' ') AS tk FROM documents
                    WHERE doc_id % 37 = 0)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      candg AS (
        SELECT doc_id, u.t AS gram
        FROM (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM pre)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      contaminated AS (SELECT DISTINCT doc_id FROM candg JOIN evalg USING (gram))
      SELECT f.doc_id, f.source, f.lang,
             CASE WHEN NOT is_canon THEN 'dropped_duplicate'
                  WHEN f.doc_id % 37 = 0 THEN 'held_out_eval'
                  WHEN q.doc_id IS NULL THEN 'dropped_quality'
                  WHEN ct.doc_id IS NOT NULL THEN 'dropped_contaminated'
                  ELSE 'kept_' ||
                    CASE WHEN substring(md5(CAST(f.doc_id AS VARCHAR)), 3, 2) < 'cc' THEN 'train'
                         WHEN substring(md5(CAST(f.doc_id AS VARCHAR)), 3, 2) < 'e6' THEN 'val'
                         ELSE 'test' END
             END AS status
      FROM f LEFT JOIN q ON f.doc_id = q.doc_id
             LEFT JOIN contaminated ct ON f.doc_id = ct.doc_id
      ORDER BY f.doc_id"""))

  /** p4 — the reproducible release SINK, oracle-checked THROUGH the
    * filesystem: write p1's released docs with the deterministic layout
    * (`sources.ReleaseWriter`), read the files back, and emit the
    * content-audit manifest from what was actually written. The DuckDB
    * oracle recomputes the manifest from the logical release
    * definition, so a write that dropped, duplicated or corrupted any
    * row hash-mismatches — the sink's integrity is inside the
    * correctness gate, not asserted by construction. */
  /** Per-(sf, application) release root: the appId component keeps two
    * concurrent runs (a bench racing a verify, two sessions) from
    * publishing into the same root — publishRelease's writer contract
    * is single-maintainer. Dirs live under java.io.tmpdir; the root and
    * its `_incr`/`_fuzzy` siblings are deleted when the application
    * ends, since nothing outside the application references them. ONE
    * definition shared by p4 (publishes) and the fromRelease audit
    * family (resolves the current version), so an audit can never read
    * a different root than the publisher wrote. */
  private[graft] def releaseRoot(s: org.apache.spark.sql.SparkSession,
                                 dir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_release_${key}_" +
      s.sparkContext.applicationId
    if (sweptRoots.add(root)) {
      val conf = s.sparkContext.hadoopConfiguration
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          val p = new org.apache.hadoop.fs.Path(root)
          val fs = p.getFileSystem(conf)
          val family = new org.apache.hadoop.fs.Path(p.getParent, s"{${p.getName},${p.getName}_*}")
          Option(fs.globStatus(family)).foreach(_.foreach(st => fs.delete(st.getPath, true)))
        }
      })
    }
    root
  }

  private val sweptRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // JVM-level gate for the publish-if-absent path: parallel spec suites
  // sharing one session must not race publishRelease (its writer
  // contract is strictly single-maintainer per root)
  private val publishGate = new Object

  /** The CURRENT committed release dir for (session, sf), publishing v1
    * from the in-plan release stack if the root has none yet — the
    * production shape is publish ONCE, audit the artifact many times,
    * so every fromRelease audit resolves here instead of recomputing
    * canon→quality→decon. Within one app the stack therefore runs at
    * most once for the whole audit family (p4's own runs version up
    * with identical content; audits keep reading the current marker). */
  private[graft] def publishedReleaseDir(s: org.apache.spark.sql.SparkSession,
                                         dir: String): String =
    publishGate.synchronized {
      val root = releaseRoot(s, dir)
      graft.sources.ReleaseWriter.currentReleasePath(s, root).getOrElse {
        graft.sources.ReleaseWriter.publishRelease(releasedDocs(s, dir), root)
        graft.sources.ReleaseWriter.currentReleasePath(s, root).getOrElse(
          throw new IllegalStateException(
            s"publishRelease returned but no committed version found under $root"))
      }
    }

  /** The published release as a frame — the ONLY corpus input of the
    * fromRelease audit family (PlanAuditSpec pins zero raw-document
    * scan). Carries the full release contract incl. the governance
    * metadata (source, lang) the card queries group by. Spread: a
    * small release arrives as one split; production releases are
    * multi-file and the repartition is a no-op. */
  private[graft] def releaseFrame(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame =
    QueryDef.spread(graft.sources.ReleaseWriter.readRelease(
      s, publishedReleaseDir(s, dir)))

  val pReleaseWrite = QueryDef(
    "p4_release_write",
    (s, dir) => {
      // reruns WITHIN an app version up (v1, v2, ...) with lag-one
      // retention, so the tmp root holds at most two release copies
      // regardless of rerun count, and the manifest reproduces
      // bit-for-bit across republishes (ReleasePublishSpec).
      // the versioned crash-safe publish path (commit-marker discipline):
      // the oracle-checked manifest is computed from the PUBLISHED files,
      // so the whole publish contract sits inside the correctness gate.
      // Same JVM gate as publishedReleaseDir: p4 shares the root with
      // the audit family's publish-if-absent, and two publishers racing
      // one root is exactly what publishRelease's writer contract
      // forbids (r17 review finding)
      publishGate.synchronized {
        graft.sources.ReleaseWriter.publishRelease(releasedDocs(s, dir),
          releaseRoot(s, dir))
      }
    },
    Some("""
      WITH canon AS (
        SELECT doc_id, text, source, n_chars
        FROM (SELECT doc_id, text, source, n_chars,
                     MIN(doc_id) OVER (PARTITION BY text) AS m FROM documents)
        WHERE doc_id = m),
      b AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS tk
        FROM canon WHERE len(string_split(text, ' ')) >= 2),
      tc AS (
        SELECT doc_id, t AS tok, COUNT(*) AS c
        FROM b, UNNEST(b.tk) AS u(t) GROUP BY doc_id, t),
      tp AS (SELECT doc_id, MAX(c) AS max_c FROM tc GROUP BY doc_id),
      q AS (
        SELECT b.doc_id FROM b JOIN tp USING (doc_id)
        WHERE len(tk) BETWEEN 30 AND 1000
          AND ((n_chars - CAST(len(tk) - 1 AS DOUBLE)) / len(tk)) BETWEEN 3.0 AND 10.0
          AND len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) >= 2
          AND CAST(tp.max_c AS DOUBLE) / len(tk) <= 0.2
          AND 1.0 - CAST(len(list_distinct(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i+1]))) AS DOUBLE) / (len(tk) - 1) <= 0.3),
      pre AS (
        SELECT canon.* FROM canon JOIN q USING (doc_id) WHERE doc_id % 37 <> 0),
      evalg AS (
        SELECT DISTINCT u.t AS gram
        FROM (SELECT list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT string_split(text, ' ') AS tk FROM documents
                    WHERE doc_id % 37 = 0)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      candg AS (
        SELECT doc_id, u.t AS gram
        FROM (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM pre)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      contaminated AS (SELECT DISTINCT doc_id FROM candg JOIN evalg USING (gram)),
      clean AS (
        SELECT * FROM pre
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      a AS (
        SELECT doc_id, text, n_chars,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'cc' THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 13, 4)) AS BIGINT) % 8
                 AS bucket
        FROM clean)
      SELECT split, bucket, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 10))
               AS BIGINT)) AS BIGINT) AS digest
      FROM a GROUP BY split, bucket ORDER BY split, bucket"""))

  /** p5 — the release's dataset card: per-split doc/token/quality and
    * language-mix statistics over the RELEASED corpus (the summary
    * table every data release publishes). Reuses releasedDocs and the
    * ONE shared quality frame (`SampleQueries.qualityTokenFrame` → t2's
    * qualityExpr), so the card can never disagree with the release or
    * the filter. `top_lang` ties break to the lexicographically first
    * language for cross-engine determinism.
    *
    * Scale shape: one staged feature pass; split-keyed aggregates with
    * map-side partials; the per-(split, lang) count table (|splits| ×
    * |langs| rows) and its arg-max are broadcast back — the corpus
    * never shuffles more than once. */
  /** The p5 card body over an arbitrary released frame (must carry
    * doc_id, text, n_chars, split, lang) — ONE definition shared by the
    * in-plan card (p5, fed by releasedDocs) and the audit-from-
    * published-release variant (p5f, fed by releaseFrame), so the two
    * modes can never state different card semantics. */
  private[graft] def releaseReportOf(rel: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val q = SampleQueries.qualityTokenFrame(rel, extraCols = Seq("split", "lang"))
      val bySplit = q.groupBy(col("split")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(QueryDef.dsum(col("quality"), 6).cast("double") / count(lit(1)), 6)
          .as("mean_quality"),
        countDistinct(col("lang")).as("n_langs"))
      val lc = q.groupBy(col("split"), col("lang")).agg(count(lit(1)).as("cnt"))
      val mx = lc.groupBy(col("split")).agg(max(col("cnt")).as("mx"))
      val top = lc.join(broadcast(mx), "split").filter(col("cnt") === col("mx"))
        .groupBy(col("split"))
        .agg(min(col("lang")).as("top_lang"), max(col("mx")).as("top_cnt"))
      bySplit.join(broadcast(top), "split")
        .select(col("split"), col("n_docs"), col("total_tokens"),
          col("mean_quality"), col("n_langs"), col("top_lang"),
          round(col("top_cnt").cast("double") / col("n_docs"), 6)
            .as("top_lang_share"))
        .orderBy("split")
  }

  val pReleaseReport = QueryDef(
    "p5_release_report",
    (s, dir) => releaseReportOf(releasedDocs(s, dir)),
    Some("""
      WITH canon AS (
        SELECT doc_id, text, source, lang, n_chars
        FROM (SELECT doc_id, text, source, lang, n_chars,
                     MIN(doc_id) OVER (PARTITION BY text) AS m FROM documents)
        WHERE doc_id = m),
      b AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS tk
        FROM canon WHERE len(string_split(text, ' ')) >= 2),
      tc AS (
        SELECT doc_id, t AS tok, COUNT(*) AS c
        FROM b, UNNEST(b.tk) AS u(t) GROUP BY doc_id, t),
      tp0 AS (SELECT doc_id, MAX(c) AS max_c FROM tc GROUP BY doc_id),
      q AS (
        SELECT b.doc_id FROM b JOIN tp0 USING (doc_id)
        WHERE len(tk) BETWEEN 30 AND 1000
          AND ((n_chars - CAST(len(tk) - 1 AS DOUBLE)) / len(tk)) BETWEEN 3.0 AND 10.0
          AND len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) >= 2
          AND CAST(tp0.max_c AS DOUBLE) / len(tk) <= 0.2
          AND 1.0 - CAST(len(list_distinct(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i+1]))) AS DOUBLE) / (len(tk) - 1) <= 0.3),
      pre AS (
        SELECT canon.* FROM canon JOIN q USING (doc_id) WHERE doc_id % 37 <> 0),
      evalg AS (
        SELECT DISTINCT u.t AS gram
        FROM (SELECT list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT string_split(text, ' ') AS tk FROM documents
                    WHERE doc_id % 37 = 0)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      candg AS (
        SELECT doc_id, u.t AS gram
        FROM (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM pre)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      contaminated AS (SELECT DISTINCT doc_id FROM candg JOIN evalg USING (gram)),
      clean AS (
        SELECT * FROM pre
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      a AS (
        SELECT lang, string_split(text, ' ') AS tk,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt, n_chars,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'cc' THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM clean),
      f AS (
        SELECT split, lang, CAST(len(tk) AS BIGINT) AS n_tokens,
               ROUND(CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 0.5 ELSE 0.0 END
                 + len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) / nt * 0.25
                 + len(list_distinct(tk)) / nt * 0.25, 6) AS quality
        FROM a),
      bs AS (
        SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               ROUND(CAST(SUM(CAST(quality AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6)
                 AS mean_quality,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM f GROUP BY split),
      lc AS (SELECT split, lang, COUNT(*) AS cnt FROM f GROUP BY split, lang),
      mx AS (SELECT split, MAX(cnt) AS mx FROM lc GROUP BY split),
      tpl AS (
        SELECT lc.split, MIN(lc.lang) AS top_lang, MAX(lc.cnt) AS top_cnt
        FROM lc JOIN mx ON lc.split = mx.split AND lc.cnt = mx.mx
        GROUP BY lc.split)
      SELECT bs.split, bs.n_docs, bs.total_tokens, bs.mean_quality, bs.n_langs,
             tpl.top_lang,
             ROUND(CAST(tpl.top_cnt AS DOUBLE) / bs.n_docs, 6) AS top_lang_share
      FROM bs JOIN tpl ON bs.split = tpl.split ORDER BY bs.split"""))

  /** p6 — split-leakage audit over the RELEASED corpus: pairs of
    * released documents that landed in DIFFERENT splits yet share
    * df-capped distinct 5-grams (near-duplicates the exact-dedup stage
    * cannot catch — docs differing by a few words). Cross-split
    * near-dups silently inflate eval metrics, so a release publishes
    * this audit next to its dataset card; an empty audit is the
    * clean-release certificate.
    *
    * The df cap (grams kept only when 2 ≤ document frequency ≤ 32) is
    * the standard decontamination trick: singleton grams cannot pair,
    * and head grams are boilerplate whose pair explosion (df² per
    * gram) would both swamp the join and carry no near-dup signal.
    *
    * Scale shape: ONE staged gram-postings pass feeds both the df
    * aggregate and the pair join; the capped gram set goes through the
    * MEASURED broadcast guard (worst-case it is postings-sized); the
    * self-join is gram-keyed — both sides co-partition on the gram, so
    * each task pairs one gram's ≤ 32 postings locally (work bounded by
    * Σ df² ≤ cap · |postings|, never corpus²); the pair aggregate is
    * keyed by the (doc_a, doc_b) pair and the final rollup by the
    * 3×3-bounded split pair. No driver-side state. */
  private[graft] def splitLeakage(
      rel: org.apache.spark.sql.DataFrame,
      dfCap: Long = 32,
      maxBroadcastGrams: Long = 10000000L)
      : org.apache.spark.sql.DataFrame = {
    val grams = QueryDef.spread(rel)
      .select(col("doc_id"), col("split"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 5)
      .select(col("doc_id"), col("split"),
        ContaminationQueries.wordNgrams(col("tk"), 5).as("g"))
      .staged
      .select(col("doc_id"), col("split"), explode(col("g")).as("gram"))
      .staged
    val capped = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap).select("gram")
    // staged: the df-capped postings feed BOTH sides of the pair
    // self-join — without the stage break the grams⋈capped filter
    // (which drops the singleton majority) would re-execute per side
    val p = grams.join(QueryDef.guardedBroadcast(capped, maxBroadcastGrams), "gram")
      .staged
    val pairs = p.select(col("gram"), col("doc_id").as("doc_a"), col("split").as("split_a"))
      .join(p.select(col("gram"), col("doc_id").as("doc_b"), col("split").as("split_b")),
        "gram")
      .filter(col("split_a") < col("split_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("shared"))
    pairs.groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
        max(col("shared")).as("max_shared"),
        sum(col("shared")).as("total_shared"))
      .orderBy("split_a", "split_b")
  }

  val pSplitLeakage = QueryDef(
    "p6_split_leakage",
    (s, dir) => splitLeakage(releasedDocs(s, dir)),
    Some("""
      WITH canon AS (
        SELECT doc_id, text, source, n_chars
        FROM (SELECT doc_id, text, source, n_chars,
                     MIN(doc_id) OVER (PARTITION BY text) AS m FROM documents)
        WHERE doc_id = m),
      b AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS tk
        FROM canon WHERE len(string_split(text, ' ')) >= 2),
      tc AS (
        SELECT doc_id, t AS tok, COUNT(*) AS c
        FROM b, UNNEST(b.tk) AS u(t) GROUP BY doc_id, t),
      tp AS (SELECT doc_id, MAX(c) AS max_c FROM tc GROUP BY doc_id),
      q AS (
        SELECT b.doc_id FROM b JOIN tp USING (doc_id)
        WHERE len(tk) BETWEEN 30 AND 1000
          AND ((n_chars - CAST(len(tk) - 1 AS DOUBLE)) / len(tk)) BETWEEN 3.0 AND 10.0
          AND len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) >= 2
          AND CAST(tp.max_c AS DOUBLE) / len(tk) <= 0.2
          AND 1.0 - CAST(len(list_distinct(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i+1]))) AS DOUBLE) / (len(tk) - 1) <= 0.3),
      pre AS (
        SELECT canon.* FROM canon JOIN q USING (doc_id) WHERE doc_id % 37 <> 0),
      evalg AS (
        SELECT DISTINCT u.t AS gram
        FROM (SELECT list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT string_split(text, ' ') AS tk FROM documents
                    WHERE doc_id % 37 = 0)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      candg AS (
        SELECT doc_id, u.t AS gram
        FROM (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM pre)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      contaminated AS (SELECT DISTINCT doc_id FROM candg JOIN evalg USING (gram)),
      rel AS (
        SELECT doc_id, text,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'cc' THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM pre WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      g AS (
        SELECT doc_id, split, u.t AS gram
        FROM (SELECT doc_id, split, list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS gs
              FROM (SELECT doc_id, split, string_split(text, ' ') AS tk FROM rel)
              WHERE len(tk) >= 5) d, UNNEST(d.gs) AS u(t)),
      capped AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 32),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.split AS split_a, b.split AS split_b, COUNT(*) AS shared
        FROM g a JOIN capped USING (gram) JOIN g b USING (gram)
        WHERE a.split < b.split
        GROUP BY 1, 2, 3, 4)
      SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(MAX(shared) AS BIGINT) AS max_shared,
             CAST(SUM(shared) AS BIGINT) AS total_shared
      FROM pairs GROUP BY split_a, split_b ORDER BY split_a, split_b"""))

  /** p5c — the dataset card's DOMAIN MIX table (r15 queue #7, after
    * c13): per-(split, registered-domain) doc/token rows over the SAME
    * released corpus as p5, the first governance question a release
    * consumer asks ("which sites is this trained on, and how much of
    * each?"). Domain = the c13 eTLD+1 kernel over the synthesized URL
    * against the stored suffix snapshot; the rows roll up EXACTLY to
    * p5's per-split n_docs/total_tokens (ManifestResampleSpec pins the
    * equality), so the mix table and the headline card can never
    * disagree.
    *
    * Scale shape: one (split, domain)-keyed aggregate with map-side
    * partials over the released frame (domain extraction is a map-side
    * kernel call); per-split totals for the share column are |splits|
    * rows broadcast back. At 100 TB the card keeps every domain row —
    * the table is |domains| rows (≪ corpus; ~millions at web scale),
    * written as a card artifact, not a driver collect. */
  /** The p5c mix body over an arbitrary released frame (doc_id, text,
    * split) — shared by the in-plan mix (p5c) and the from-release
    * audit (p5cf); the domain comes from the doc_id-keyed synthetic
    * URL, so the release needs no extra column for it. */
  private[graft] def domainMixOf(rel0: org.apache.spark.sql.DataFrame,
                                 rules: graft.functions.SuffixRules)
      : org.apache.spark.sql.DataFrame = {
      val rel = rel0
        .select(col("split"),
          graft.functions.DomainExpressions
            .registeredDomain(Scaffold.syntheticUrl, rules).as("domain"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val mix = rel.groupBy(col("split"), col("domain")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      val totals = mix.groupBy(col("split")).agg(
        sum(col("n_docs")).as("__d"), sum(col("total_tokens")).as("__t"))
      mix.join(broadcast(totals), "split")
        .select(col("split"), col("domain"), col("n_docs"), col("total_tokens"),
          round(col("n_docs").cast("double") / col("__d"), 6).as("doc_share"),
          round(col("total_tokens").cast("double") / col("__t"), 6)
            .as("token_share"))
        .orderBy("split", "domain")
  }

  val pDomainMix = QueryDef(
    "p5c_domain_mix",
    (s, dir) => domainMixOf(releasedDocs(s, dir),
      new graft.functions.SuffixRules(SampleQueries.storedSuffixRules(s, dir))),
    Some("""
      WITH canon AS (
        SELECT doc_id, text, source, lang, n_chars
        FROM (SELECT doc_id, text, source, lang, n_chars,
                     MIN(doc_id) OVER (PARTITION BY text) AS m FROM documents)
        WHERE doc_id = m),
      b AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS tk
        FROM canon WHERE len(string_split(text, ' ')) >= 2),
      tc AS (
        SELECT doc_id, t AS tok, COUNT(*) AS c
        FROM b, UNNEST(b.tk) AS u(t) GROUP BY doc_id, t),
      tp0 AS (SELECT doc_id, MAX(c) AS max_c FROM tc GROUP BY doc_id),
      q AS (
        SELECT b.doc_id FROM b JOIN tp0 USING (doc_id)
        WHERE len(tk) BETWEEN 30 AND 1000
          AND ((n_chars - CAST(len(tk) - 1 AS DOUBLE)) / len(tk)) BETWEEN 3.0 AND 10.0
          AND len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) >= 2
          AND CAST(tp0.max_c AS DOUBLE) / len(tk) <= 0.2
          AND 1.0 - CAST(len(list_distinct(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i+1]))) AS DOUBLE) / (len(tk) - 1) <= 0.3),
      pre AS (
        SELECT canon.* FROM canon JOIN q USING (doc_id) WHERE doc_id % 37 <> 0),
      evalg AS (
        SELECT DISTINCT u.t AS gram
        FROM (SELECT list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT string_split(text, ' ') AS tk FROM documents
                    WHERE doc_id % 37 = 0)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      candg AS (
        SELECT doc_id, u.t AS gram
        FROM (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM pre)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      contaminated AS (SELECT DISTINCT doc_id FROM candg JOIN evalg USING (gram)),
      clean AS (
        SELECT * FROM pre
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      u2 AS (
        SELECT doc_id,
               string_split(string_split(
                 'https://' ||
                 ['','www.','blog.','cdn.news.'][CAST(('0x' ||
                   substring(md5('url:' || CAST(doc_id AS VARCHAR)), 1, 2))
                   AS BIGINT) % 4 + 1] ||
                 'd' || CAST(CAST(('0x' ||
                   substring(md5('url:' || CAST(doc_id AS VARCHAR)), 3, 4))
                   AS BIGINT) % 40 AS VARCHAR) ||
                 '.' ||
                 ['com','org','net','io','de','co.uk','ac.uk','xyz'][CAST(('0x' ||
                   substring(md5('url:' || CAST(doc_id AS VARCHAR)), 7, 2))
                   AS BIGINT) % 8 + 1] ||
                 '/p/' || CAST(doc_id AS VARCHAR),
                 '//')[2], '/')[1] AS host
        FROM clean),
      dmn AS (
        SELECT doc_id,
               CASE WHEN len(lab) >= 3 AND (lab[-2] || '.' || lab[-1])
                        IN ('ac.uk','co.uk','com.au')
                      THEN lab[-3] || '.' || lab[-2] || '.' || lab[-1]
                    WHEN len(lab) >= 2 AND lab[-1]
                        IN ('au','com','de','io','net','org','uk')
                      THEN lab[-2] || '.' || lab[-1]
                    WHEN len(lab) >= 2 THEN lab[-2] || '.' || lab[-1]
                    ELSE host END AS domain
        FROM (SELECT doc_id, host, string_split(host, '.') AS lab FROM u2)),
      a AS (
        SELECT c2.doc_id, dmn.domain,
               CAST(len(string_split(c2.text, ' ')) AS BIGINT) AS n_tokens,
               CASE WHEN substring(md5(CAST(c2.doc_id AS VARCHAR)), 3, 2) < 'cc' THEN 'train'
                    WHEN substring(md5(CAST(c2.doc_id AS VARCHAR)), 3, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM clean c2 JOIN dmn USING (doc_id)),
      mix AS (
        SELECT split, domain, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM a GROUP BY split, domain),
      tot AS (
        SELECT split, SUM(n_docs) AS td, SUM(total_tokens) AS tt
        FROM mix GROUP BY split)
      SELECT mix.split, mix.domain, mix.n_docs, mix.total_tokens,
             ROUND(CAST(mix.n_docs AS DOUBLE) / tot.td, 6) AS doc_share,
             ROUND(CAST(mix.total_tokens AS DOUBLE) / tot.tt, 6) AS token_share
      FROM mix JOIN tot USING (split)
      ORDER BY mix.split, mix.domain"""))

  /** p7: the INDUSTRY-SHAPED curation funnel — the stage order the
    * CCNet/RefinedWeb/Dolma stacks run (line-level boilerplate removal
    * FIRST, then exact dedup over the CLEANED text, then the published
    * Gopher gate, then holdout exclusion and n-gram decontamination) —
    * with one (n_docs, n_tokens) row per stage: the funnel chart every
    * dataset paper prints, as a machine-checkable artifact. Composes
    * the r15 operators end to end: d10's cleaning rewrite feeds the
    * dedup (so near-identical pages collapse AFTER chrome removal —
    * the reason production stacks order it this way), t23's gate runs
    * on the cleaned lines, and the decontamination probe is p1's exact
    * shared `contaminatedIds`. The oracle splices the shared
    * `GopherSql.gopherRuleCtes` so p7's gate and t23's can never
    * diverge.
    *
    * Scale shape: every stage is a projection or one keyed aggregate
    * over a STAGED parent (the funnel's six aggregates scan
    * materialized narrow frames, not re-derived chains); the only
    * corpus-keyed shuffles are d10's line aggregate and the md5 dedup —
    * both already sized in their own operators' entries. Stage counts
    * are single-row aggregates with map-side partials. */
  private[graft] def gatedReleaseFunnel(
      s: org.apache.spark.sql.SparkSession, dir: String,
      maxBroadcastEvalGrams: Long = 10000000L)
      : org.apache.spark.sql.DataFrame = {
    val raw = Tables.documents(s, dir)
    gatedReleaseFunnelOf(raw,
      raw.select(col("doc_id"), Scaffold.linifiedText.as("text")),
      maxBroadcastEvalGrams)
  }

  /** The funnel over arbitrary frames: `raw` carries the original
    * (doc_id, text) the eval grams come from; `docs0in` the
    * line-carrying text the pipeline cleans. Split out so FunnelSpec
    * can drive hand-built corpora through every stage. */
  private[graft] def gatedReleaseFunnelOf(
      raw: org.apache.spark.sql.DataFrame,
      docs0in: org.apache.spark.sql.DataFrame,
      maxBroadcastEvalGrams: Long = 10000000L)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.RepetitionExpressions.gopherStats
    val docs0 = docs0in.staged
    val cleaned = LineDedupQueries.cleanedDocs(docs0).staged
    val canon = cleaned
      .groupBy(md5(col("text")).as("__h"))
      .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("__r"))
      .select(col("__r.doc_id").as("doc_id"), col("__r.text").as("text"))
      .staged
    def flat = translate(col("text"), "\n", " ")
    val gated = canon.filter(
      gopherStats(split(flat, " "), split(col("text"), "\n"), TextQueries.stopwords)
        .getField("passes_gopher")).staged
    val kept = gated.filter(!ContaminationQueries.isEval)
    val released = kept.join(
      contaminatedIds(raw, kept.select(col("doc_id"), flat.as("text")),
        maxBroadcastEvalGrams),
      Seq("doc_id"), "left_anti")
    def stageRow(id: Int, name: String,
                 df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(split(translate(col("text"), "\n", " "), " ")).cast("long")),
            lit(0L)).as("n_tokens"))
        .select(lit(id).as("stage_id"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    stageRow(0, "raw", docs0)
      .unionAll(stageRow(1, "line_cleaned", cleaned))
      .unionAll(stageRow(2, "canonical", canon))
      .unionAll(stageRow(3, "gated", gated))
      .unionAll(stageRow(4, "heldout_dropped", kept))
      .unionAll(stageRow(5, "released", released))
      .orderBy("stage_id")
  }

  val pGatedFunnel = QueryDef(
    "p7_gated_funnel",
    (s, dir) => gatedReleaseFunnel(s, dir),
    Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      lin AS (
        SELECT doc_id,
               list_transform(range(0, CAST(ceil(len(tk) / 10.0) AS BIGINT)),
                              i -> array_to_string(tk[i*10+1 : i*10+10], ' ')) AS body
        FROM d),
      doc AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN ['Promo sub ' || CAST(doc_id % 4 AS VARCHAR) || ' subscribe to our newsletter today']
                    ELSE CAST([] AS VARCHAR[]) END
               || body ||
               CASE WHEN doc_id % 5 = 0
                    THEN ['Promo ftr  ' || CAST(doc_id % 4 AS VARCHAR) || '  follow us for more updates']
                    ELSE CAST([] AS VARCHAR[]) END AS lines
        FROM lin),
      t0 AS (SELECT doc_id, array_to_string(lines, chr(10)) AS text FROM doc),
      ln AS (
        SELECT doc_id, i AS pos, lines[i] AS line,
               lower(trim(regexp_replace(lines[i], ' +', ' ', 'g'))) AS nl
        FROM doc, UNNEST(range(1, len(lines) + 1)) AS u(i)),
      tot AS (SELECT COUNT(*) AS n_total FROM documents),
      freq AS (
        SELECT nl FROM ln, tot GROUP BY nl, tot.n_total
        HAVING COUNT(DISTINCT doc_id) >=
               GREATEST(3, CAST(FLOOR(n_total * 0.01) AS BIGINT))),
      keptl AS (SELECT * FROM ln WHERE nl NOT IN (SELECT nl FROM freq)),
      cagg AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS kept_text
        FROM keptl GROUP BY doc_id),
      t1 AS (
        SELECT t0.doc_id, COALESCE(cagg.kept_text, '') AS text
        FROM t0 LEFT JOIN cagg USING (doc_id)),
      t2 AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY text) AS mm FROM t1)
        WHERE doc_id = mm),
      gsrc AS (
        SELECT doc_id,
               string_split(replace(text, chr(10), ' '), ' ') AS tk,
               string_split(text, chr(10)) AS lines
        FROM t2),
      ${GopherSql.gopherRuleCtes},
      t3 AS (SELECT t2.* FROM t2 JOIN gate USING (doc_id) WHERE gate.passes_gopher),
      t4 AS (SELECT * FROM t3 WHERE doc_id % 37 <> 0),
      evalg AS (
        SELECT DISTINCT u.t AS gram
        FROM (SELECT list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT string_split(text, ' ') AS tk FROM documents
                    WHERE doc_id % 37 = 0)
              WHERE len(tk) >= 5) dd, UNNEST(dd.g) AS u(t)),
      candg AS (
        SELECT doc_id, u.t AS gram
        FROM (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT doc_id, string_split(replace(text, chr(10), ' '), ' ') AS tk
                    FROM t4)
              WHERE len(tk) >= 5) dd, UNNEST(dd.g) AS u(t)),
      contam AS (SELECT DISTINCT doc_id FROM candg JOIN evalg USING (gram)),
      t5 AS (SELECT * FROM t4 WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      cnt AS (
        SELECT 0 AS sid, 'raw' AS stage, COUNT(*) AS n_docs,
               CAST(COALESCE(SUM(len(string_split(replace(text, chr(10), ' '), ' '))), 0) AS BIGINT) AS n_tokens
        FROM t0
        UNION ALL
        SELECT 1, 'line_cleaned', COUNT(*),
               CAST(COALESCE(SUM(len(string_split(replace(text, chr(10), ' '), ' '))), 0) AS BIGINT)
        FROM t1
        UNION ALL
        SELECT 2, 'canonical', COUNT(*),
               CAST(COALESCE(SUM(len(string_split(replace(text, chr(10), ' '), ' '))), 0) AS BIGINT)
        FROM t2
        UNION ALL
        SELECT 3, 'gated', COUNT(*),
               CAST(COALESCE(SUM(len(string_split(replace(text, chr(10), ' '), ' '))), 0) AS BIGINT)
        FROM t3
        UNION ALL
        SELECT 4, 'heldout_dropped', COUNT(*),
               CAST(COALESCE(SUM(len(string_split(replace(text, chr(10), ' '), ' '))), 0) AS BIGINT)
        FROM t4
        UNION ALL
        SELECT 5, 'released', COUNT(*),
               CAST(COALESCE(SUM(len(string_split(replace(text, chr(10), ' '), ' '))), 0) AS BIGINT)
        FROM t5)
      SELECT CAST(sid AS INTEGER) AS stage_id, stage, n_docs, n_tokens
      FROM cnt ORDER BY stage_id"""))

  /** End-to-end SFT release pipeline (p8) — the instruction-tuning
    * counterpart of p2/p5: gate the corpus on the shared t2 quality
    * rule, lay the KEPT docs out with t13's concat-and-split packing,
    * run t25's per-pack loss-mask accounting over that layout
    * (prompt = ⌈n/4⌉, t25's synthesized boundary), and roll the packs
    * up into the per-source release summary an SFT trainer consumes:
    * kept docs, packs, pack/loss token totals, zero-loss pack count
    * (wasted forward passes) and the loss fraction. One Catalyst plan
    * composed from the standalone operators' own building blocks
    * (qualityExpr / sequencePackFrameBy / sftMaskPackBy), so the
    * pipeline can never disagree with the operators it composes.
    *
    * Scale shape: the gate is a map-side expression on the feature
    * scan; packing is t13's source-keyed window; the mask accounting
    * explodes each doc over only the ⌈n/L⌉+1 packs it spans; both
    * rollups are keyed aggregates with map-side partials (|packs| then
    * |sources| rows). The only window is t13's — same key-widening
    * note at 100 TB.
    */
  private[graft] def sftReleaseOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tk = split(col("text"), " ")
    val kept = docs
      .filter(TextQueries.qualityExpr(tk, col("n_chars")) >= 0.5)
    TextQueries.sftMaskPackBy(kept,
        size(split(col("text"), " ")).cast("long"),
        floor((col("n_tokens") + lit(3)) / lit(4)).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_packs"),
        sum("n_docs").as("doc_slices"),
        sum("pack_tokens").as("pack_tokens"),
        sum("loss_tokens").as("loss_tokens"),
        sum(when(col("zero_loss"), 1L).otherwise(0L)).as("zero_loss_packs"),
        round(sum("loss_tokens").cast("double") /
          sum("pack_tokens"), 6).as("loss_frac"))
      .orderBy("source")
  }

  val pSftRelease = QueryDef(
    "p8_sft_release",
    (s, dir) => sftReleaseOf(Tables.documents(s, dir)),
    Some("""
      WITH b AS (
        SELECT doc_id, source, n_chars, string_split(text, ' ') AS tk,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntd
        FROM documents),
      kept AS (
        SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n
        FROM b
        WHERE ROUND(CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 0.5 ELSE 0.0 END
                + len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) / ntd * 0.25
                + len(list_distinct(tk)) / ntd * 0.25, 6) >= 0.5),
      o AS (
        SELECT doc_id, source, n,
               CAST(COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS off
        FROM kept),
      d AS (
        SELECT *, off + (n + 3) // 4 AS loss_start, off + n AS doc_end
        FROM o WHERE n > 0),
      e AS (
        SELECT source, off, doc_end, loss_start,
               UNNEST(generate_series(off // 128, (off + n - 1) // 128)) AS pack_id
        FROM d),
      per AS (
        SELECT source, pack_id,
               LEAST(doc_end, (pack_id + 1) * 128) - GREATEST(off, pack_id * 128)
                 AS toks_in,
               GREATEST(0, LEAST(doc_end, (pack_id + 1) * 128)
                 - GREATEST(loss_start, pack_id * 128)) AS loss_in
        FROM e),
      packs AS (
        SELECT source, pack_id,
               SUM(toks_in) AS pack_tokens, SUM(loss_in) AS loss_tokens,
               COUNT(*) AS n_docs, (SUM(loss_in) = 0) AS zero_loss
        FROM per GROUP BY source, pack_id)
      SELECT source, COUNT(*) AS n_packs,
             CAST(SUM(n_docs) AS BIGINT) AS doc_slices,
             CAST(SUM(pack_tokens) AS BIGINT) AS pack_tokens,
             CAST(SUM(loss_tokens) AS BIGINT) AS loss_tokens,
             CAST(SUM(CASE WHEN zero_loss THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_loss_packs,
             ROUND(CAST(SUM(loss_tokens) AS DOUBLE) / SUM(pack_tokens), 6)
               AS loss_frac
      FROM packs GROUP BY source ORDER BY source"""))

  /** The fuzzy-dedup election, consumed from its DROP side (r18
    * operator, r21 shape): cluster the near-dup `pairs` into components
    * (d6's operator), elect d11's quality-best doc per cluster, and
    * return the doc_ids fuzzy dedup DROPS — cluster election losers
    * only, bounded by the CLUSTERED docs (edge-list-sized, orders of
    * magnitude under the corpus). The funnel consumes this side:
    * `canon ANTI-JOIN losers` keeps the corpus un-shuffled (the loser
    * set rides the measured broadcast guard), where the old
    * keeper-id-set join back re-keyed every document on doc_id at scale
    * (guide §2.4). keepBest emits exactly one row per doc with a
    * non-null verdict, so keepers ≡ canon ∖ losers — and this IS still
    * the standalone d2→d6→d11 chain applied (FuzzyReleaseSpec pins the
    * funnel against chaining the standalone operators; r22 computes the
    * losers via [[DedupClusters.electionLosers]] — same election, zero
    * corpus-sized projections, ElectionLosersSpec pins it against
    * keepBest's drop side). Lives inline in
    * [[fuzzyStagesFromCanonGrams]] so the labeling's plan-visible size
    * can feed the broadcast guard. */

  /** The post-canon fuzzy release stages — fuzzy keep-best → quality
    * gate → held-out eval drop → 5-gram decontamination. ONE definition
    * shared by p9's funnel (which counts each stage) and p12's two
    * publishers (day-1 full publish AND the stored-index day-2
    * assembly), so the incremental path can never drift from the
    * funnel whose releases it publishes. `docs0` is the RAW corpus —
    * eval docs are benchmark data and contribute grams whether or not
    * any upstream stage kept them. */
  private[graft] final case class FuzzyStages(
      fuzzy: org.apache.spark.sql.DataFrame,
      gated: org.apache.spark.sql.DataFrame,
      kept: org.apache.spark.sql.DataFrame,
      released: org.apache.spark.sql.DataFrame)

  private[graft] def fuzzyStagesFromCanon(
      docs0: org.apache.spark.sql.DataFrame,
      canon: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame,
      maxBroadcastEvalGrams: Long): FuzzyStages =
    fuzzyStagesFromCanonGrams(evalGramsOf(docs0), canon, pairs,
      maxBroadcastEvalGrams)

  /** [[fuzzyStagesFromCanon]] with the decon probe side supplied as a
    * GRAM frame instead of the raw corpus — p12's day-2 seat: the
    * stored day-1 gram table unioned with the increment's own grams
    * ([[fuzzyStoredEvalGrams]]), so the post-canon stages never touch
    * raw day-1 either. */
  /** `stagePerStage`: p9's funnel counts EVERY stage (seven stageRow
    * aggregates), so each stage frame is materialized once and shared
    * — the r21 shape, the default. The p12 publishers consume ONLY
    * `released`, so per-stage checkpoints there copied the corpus
    * twice (fuzzy, then gated ⊆ fuzzy) for zero sharing; with
    * `stagePerStage = false` the anti-join → quality gate → eval drop
    * chain stays ONE fused map-side pass and only its result (`kept`,
    * the frame both the candidate-gram pass and the decon anti-join
    * genuinely share) is materialized (r22, guide §1.2). Same
    * operators, same composition, same results — FuzzyIncrementalSpec
    * and both funnel oracles re-prove it. */
  private[graft] def fuzzyStagesFromCanonGrams(
      evalGrams: org.apache.spark.sql.DataFrame,
      canon: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame,
      maxBroadcastEvalGrams: Long,
      stagePerStage: Boolean = true): FuzzyStages = {
    // keep-best survivors via the DROP side (r21): the loser id set is
    // cluster-bounded and broadcast-guarded; anti-joining it never
    // re-keys the corpus (the old keeper-id inner join did, at scale).
    // Bound propagation (r22, VERDICT r21 #3): when the labeling took
    // the union-find route its size is on the plan, and losers ⊆
    // labeled docs, so the loser set is provably under the guard with
    // ZERO measuring jobs — broadcast directly (its single consumer is
    // the anti-join build, so skipping the guard's stage+count also
    // drops a materialization). The measured path is unchanged.
    val cc = DedupClusters.connectedComponents(pairs.select("a", "b"))
    val losers = DedupClusters.electionLosers(canon, cc)
    val maxLoserRows = 10000000L
    val ccLocalRows = cc.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(lr.data.length.toLong)
      case _ => None
    }
    val loserSide =
      if (ccLocalRows.exists(_ <= maxLoserRows)) broadcast(losers)
      else QueryDef.guardedBroadcast(losers, maxLoserRows)
    val fuzzy0 = canon.join(loserSide, Seq("doc_id"), "left_anti")
    val fuzzy = if (stagePerStage) fuzzy0.staged else fuzzy0
    // quality gate as the kernel row predicate (r21) — see
    // preCandidatesOf: the old keepIds join-back re-keyed the corpus
    // on a corpus-sized id set per day
    val gated0 = fuzzy.filter(TextQueries.qualityKeepExpr(
      split(col("text"), " "), col("n_chars")))
    val gated = if (stagePerStage) gated0.staged else gated0
    val kept0 = gated.filter(!ContaminationQueries.isEval)
    // lean mode: ONE materialization where the two consumers meet
    val kept = if (stagePerStage) kept0 else kept0.staged
    val released = kept.join(
      contaminatedIdsByGrams(kept, evalGrams, maxBroadcastEvalGrams),
      Seq("doc_id"), "left_anti")
    FuzzyStages(fuzzy, gated, kept, released)
  }

  /** p9 — the crawl-shaped release funnel with URL dedup FIRST and
    * fuzzy dedup composed in as a release stage (the order d14's own
    * contract mandates — URL dedup is the first dedup every crawl
    * pipeline runs, before any content pass — then RefinedWeb §3 /
    * FineWeb / Dolma curation order: exact dedup, near-dup dedup,
    * gates):
    *
    *   raw → url_deduped (d14's canonical-URL election)
    *       → exact canonical → fuzzy keep-best survivors
    *       → quality gate (t9's 5-rule battery, p1's stage)
    *       → held-out eval drop → 5-gram decontamination → released,
    *
    * one attrition row per stage, so "docs dropped by URL dedup" and
    * "docs dropped by fuzzy dedup" are each reported DISTINCTLY from
    * exact dedup. Every stage reuses the standalone operator's own
    * building blocks (UrlQueries.canonicalUrl + the min-id election,
    * exactCanonOf, d6's connectedComponents, d11's keepBest, t9's
    * qualityRuleFrame, x1's contaminatedIds).
    *
    * Scale shape: URL canonicalization is pure map-side codegen'd
    * regex; its election is ONE canonical-keyed aggregate with min_by
    * carrying the row (no join-back), and at 100 TB that shuffle is
    * reusable layout for the exact-dedup stage that follows. Exact
    * dedup is the hash-keyed aggregate; near-dup mining runs over the
    * CANONICAL set (never raw duplicates) and is whatever the edge
    * generator costs (LSH-banded in production — d2's never-all-pairs
    * discipline; the QueryDef uses d4's bounded exact-Jaccard universe
    * so the WHOLE composition stays DuckDB-restatable, the d6/d11
    * adjudication); clustering is bounded by the edge list; the
    * election and all joins back ride the measured broadcast guard.
    * The corpus itself is never shuffled after canon. */
  private[graft] def fuzzyReleaseFunnelOf(
      docsIn: org.apache.spark.sql.DataFrame,
      pairsOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      maxBroadcastEvalGrams: Long = 10000000L)
      : org.apache.spark.sql.DataFrame = {
    val docs0 = QueryDef.spread(docsIn)
    val urlKept = UrlQueries.urlCanonOf(docs0).drop("url").staged
    val canon = exactCanonOf(urlKept).staged
    val st = fuzzyStagesFromCanon(docs0, canon, pairsOf(canon),
      maxBroadcastEvalGrams)
    def stageRow(id: Int, name: String,
                 df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L))
            .as("n_tokens"))
        .select(lit(id).as("stage_id"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    stageRow(0, "raw", docs0)
      .unionAll(stageRow(1, "url_deduped", urlKept))
      .unionAll(stageRow(2, "exact_canonical", canon))
      .unionAll(stageRow(3, "fuzzy_deduped", st.fuzzy))
      .unionAll(stageRow(4, "quality_gated", st.gated))
      .unionAll(stageRow(5, "heldout_dropped", st.kept))
      .unionAll(stageRow(6, "released", st.released))
      .orderBy("stage_id")
  }

  /** The p9/p12 funnel URL injection ([[Scaffold.messyUrlFunnel]]) +
    * d14's shared canonicalization chain + the keep election, as the
    * CTE prefix (no WITH keyword) both funnel oracles open with:
    * yields `ukept` — the URL-KEPT document rows. */
  private[graft] val funnelUrlCtes: String = s"""up0 AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 100 = 50 THEN 50
                    ELSE doc_id - (CASE WHEN doc_id % 10 = 9 THEN 1 ELSE 0 END)
               END AS pgn
        FROM documents),
      up AS (
        SELECT doc_id, source, CAST(pgn AS VARCHAR) AS pg,
               'd' || CAST(pgn % 7 AS VARCHAR) || '.com' AS h
        FROM up0),
      u AS (
        SELECT doc_id, source,
               CASE doc_id % 6
                 WHEN 0 THEN 'https://www.' || h || '/a/' || pg
                 WHEN 1 THEN 'HTTPS://' || upper(h) || '/a/' || pg || '/'
                 WHEN 2 THEN 'https://www.' || h || ':443/a/' || pg
                 WHEN 3 THEN 'https://' || h || '/a/' || pg || '?utm_source=x&utm_campaign=y'
                 WHEN 4 THEN 'https://www.' || h || '/a/' || pg || '#frag'
                 ELSE 'http://' || h || '/b/' || pg
               END AS url
        FROM up),
      ${UrlQueries.urlCanonChain},
      uk AS (SELECT canonical_url, MIN(doc_id) AS keep_id
             FROM c GROUP BY canonical_url),
      ukept AS (
        SELECT d.* FROM documents d
        JOIN c ON d.doc_id = c.doc_id
        JOIN uk ON c.canonical_url = uk.canonical_url
        WHERE d.doc_id = uk.keep_id)"""

  /** The from-scratch fuzzy-funnel CTE chain (post-URL stages: exact
    * canon → d4-universe near-dup pairs → recursive CC → keep-best →
    * t9 quality → eval drop → 5-gram decon), `ukept` in, `released`
    * out — ONE statement shared by p9's funnel oracle (which appends
    * stage counts) and p12's incremental-publish oracle (which appends
    * p4's manifest tail), the releaseSqlCtesOver discipline: the
    * equality p12 proves is against EXACTLY the funnel p9 checks. */
  private[graft] val fuzzyFunnelSqlCtes: String = """canon AS (
        SELECT doc_id, text, source, n_chars
        FROM (SELECT doc_id, text, source, n_chars,
                     MIN(doc_id) OVER (PARTITION BY text) AS m FROM ukept)
        WHERE doc_id = m),
      g AS (
        SELECT doc_id, source,
               list_distinct(list_transform(range(1, length(text) - 2),
                                            i -> substring(text, i, 4))) AS gr
        FROM canon WHERE length(text) >= 4 AND doc_id < 500),
      e AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM g l JOIN g r ON l.source = r.source AND l.doc_id < r.doc_id AND l.doc_id < 250
        WHERE CAST(len(list_intersect(l.gr, r.gr)) AS DOUBLE)
              / len(list_distinct(list_concat(l.gr, r.gr))) >= 0.4),
      ed AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
      nodes AS (SELECT DISTINCT a AS id FROM ed),
      reach AS (
        SELECT id AS src, id AS dst FROM nodes
        UNION
        SELECT r.src, ed.b AS dst FROM reach r JOIN ed ON ed.a = r.dst),
      cc AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
      qq AS (
        SELECT doc_id,
               ROUND(CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 0.5 ELSE 0.0 END
                     + (len(list_filter(string_split(text, ' '),
                            t -> t IN ('the','a','and','of','to','in')))
                        / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.25
                     + (len(list_distinct(string_split(text, ' ')))
                        / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.25, 6)
                 AS quality
        FROM canon),
      lab AS (
        SELECT qq.doc_id, COALESCE(cc.cluster_id, qq.doc_id) AS cluster_id,
               qq.quality
        FROM qq LEFT JOIN cc USING (doc_id)),
      cansel AS (
        SELECT cluster_id, doc_id AS canonical_id FROM lab
        QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id
                                   ORDER BY quality DESC, doc_id) = 1),
      fuzzy AS (
        SELECT canon.* FROM canon JOIN
          (SELECT l.doc_id FROM lab l JOIN cansel c USING (cluster_id)
           WHERE l.doc_id = c.canonical_id) keepids USING (doc_id)),
      b AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS tk
        FROM fuzzy WHERE len(string_split(text, ' ')) >= 2),
      tc AS (
        SELECT doc_id, t AS tok, COUNT(*) AS c
        FROM b, UNNEST(b.tk) AS u(t) GROUP BY doc_id, t),
      tp AS (SELECT doc_id, MAX(c) AS max_c FROM tc GROUP BY doc_id),
      q AS (
        SELECT b.doc_id FROM b JOIN tp USING (doc_id)
        WHERE len(tk) BETWEEN 30 AND 1000
          AND ((n_chars - CAST(len(tk) - 1 AS DOUBLE)) / len(tk)) BETWEEN 3.0 AND 10.0
          AND len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) >= 2
          AND CAST(tp.max_c AS DOUBLE) / len(tk) <= 0.2
          AND 1.0 - CAST(len(list_distinct(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i+1]))) AS DOUBLE) / (len(tk) - 1) <= 0.3),
      gated AS (SELECT fuzzy.* FROM fuzzy JOIN q USING (doc_id)),
      kept AS (SELECT * FROM gated WHERE doc_id % 37 <> 0),
      evalg AS (
        SELECT DISTINCT u.t AS gram
        FROM (SELECT list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT string_split(text, ' ') AS tk FROM documents
                    WHERE doc_id % 37 = 0)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      candg AS (
        SELECT doc_id, u.t AS gram
        FROM (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM kept)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      contam AS (SELECT DISTINCT doc_id FROM candg JOIN evalg USING (gram)),
      released AS (
        SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM contam))"""

  val pFuzzyFunnel = QueryDef(
    "p9_fuzzy_release_funnel",
    (s, dir) => fuzzyReleaseFunnelOf(
      // url synthesis is QueryDef-only scaffolding — Scaffold.messyUrlFunnel
      Tables.documents(s, dir).withColumn("url", Scaffold.messyUrlFunnel),
      canon => DedupQueries.ngramPairsOf(canon, threshold = 0.4,
        probeBound = 250L, corpusBound = 500L)),
    Some(s"""
      WITH RECURSIVE $funnelUrlCtes,
      $fuzzyFunnelSqlCtes,
      cnt AS (
        SELECT 0 AS sid, 'raw' AS stage, COUNT(*) AS n_docs,
               CAST(COALESCE(SUM(len(string_split(text, ' '))), 0) AS BIGINT) AS n_tokens
        FROM documents
        UNION ALL
        SELECT 1, 'url_deduped', COUNT(*),
               CAST(COALESCE(SUM(len(string_split(text, ' '))), 0) AS BIGINT) FROM ukept
        UNION ALL
        SELECT 2, 'exact_canonical', COUNT(*),
               CAST(COALESCE(SUM(len(string_split(text, ' '))), 0) AS BIGINT) FROM canon
        UNION ALL
        SELECT 3, 'fuzzy_deduped', COUNT(*),
               CAST(COALESCE(SUM(len(string_split(text, ' '))), 0) AS BIGINT) FROM fuzzy
        UNION ALL
        SELECT 4, 'quality_gated', COUNT(*),
               CAST(COALESCE(SUM(len(string_split(text, ' '))), 0) AS BIGINT) FROM gated
        UNION ALL
        SELECT 5, 'heldout_dropped', COUNT(*),
               CAST(COALESCE(SUM(len(string_split(text, ' '))), 0) AS BIGINT) FROM kept
        UNION ALL
        SELECT 6, 'released', COUNT(*),
               CAST(COALESCE(SUM(len(string_split(text, ' '))), 0) AS BIGINT) FROM released)
      SELECT CAST(sid AS INTEGER) AS stage_id, stage, n_docs, n_tokens
      FROM cnt ORDER BY stage_id"""))

  /** p10 (r18, the r17 verdict's #2) — incremental release publication:
    * day-1's logical release (the curation stack over yesterday's
    * snapshot — c9's deterministic previousSnapshot scaffold) publishes
    * FULL as v1 of an [[graft.sources.IncrementalRelease]] lineage;
    * day-2 (today's corpus) publishes as a DELTA — c9's fingerprint
    * diff against the v1 ARTIFACT finds the touched content-keyed
    * buckets, only those rewrite, every other bucket's files carry into
    * the v2 manifest by reference, under the same commit-marker
    * discipline p4 publishes with. The query returns the manifest of
    * the delta-published artifact, and the ORACLE is p4's: the manifest
    * of a from-scratch publish of today's release — so the hash match
    * proves delta-published ≡ republished-from-scratch through the
    * filesystem round-trip (the d10b equality pattern).
    *
    * Scale shape: the only corpus-sized work per day is one fingerprint
    * scan per side of the diff (≈32 B/row shuffle); the WRITE — the
    * expensive half at 100 TB — is O(touched buckets). The touched set
    * (≤ nBuckets × |splits| rows) is the one driver-side collect,
    * dashboard-sized by construction. IncrementalReleaseSpec pins the
    * crash / lag-one / no-op-delta / fromRelease-read contracts. */
  private[graft] def incrReleaseRoot(s: org.apache.spark.sql.SparkSession,
                                     dir: String): String =
    releaseRoot(s, dir) + "_incr"

  val pIncrementalRelease = QueryDef(
    "p10_incremental_release",
    (s, dir) => publishGate.synchronized {
      val root = incrReleaseRoot(s, dir)
      graft.sources.IncrementalRelease.publishFull(
        releasedDocsOf(Scaffold.previousSnapshot(Tables.documents(s, dir))), root)
      graft.sources.IncrementalRelease.publishDelta(releasedDocs(s, dir), root)
    },
    pReleaseWrite.oracle)

  // ---- p11: release changelog (r18) ------------------------------------

  /** Changelog between two published releases — the c9 snapshot-diff
    * discipline applied to ARTIFACTS: per-(source, split, status)
    * accounting of which released docs were added/removed/changed/
    * unchanged between version N−1 and version N. This is the audit a
    * release consumer reads before upgrading ("what moved in today's
    * push, and in my split?"), and it must come from the published
    * artifacts — a changelog recomputed from raw corpora can describe a
    * release that was never shipped.
    *
    * Scale shape: scans exactly the two release artifacts (release-
    * sized, the fromRelease discipline — never raw documents), reduces
    * each map-side to (doc_id, md5(text), source, split) — the join
    * shuffles fingerprint-width rows at any corpus size, never document
    * bytes — and one full-outer join keyed by doc_id feeds an
    * aggregate of |sources|×|splits|×|statuses| rows. With p10's delta
    * layout both versions share carried pool files; the two scans read
    * a shared file at most twice — publish-time work is never redone.
    *
    * The oracle states BOTH days' logical releases (the release stack
    * over the derived previous snapshot, and over `documents`) and
    * diffs them — so a green p11 also re-proves, through the
    * filesystem round-trip, that EACH published version is its
    * logical release (p10's oracle only states the current one).
    *
    * `changed` is judged on the FULL release contract — text hash AND
    * the governance columns (source, lang, split), null-safe — the
    * same contract p10's publish diff keys on (the r18 advice finding:
    * an md5(text)-only status reported a split/metadata-only move as
    * `unchanged` while the publish diff rewrote it, so the audit
    * understated what moved in a push). */
  private[graft] def releaseChangelog(prev: org.apache.spark.sql.DataFrame,
                                      cur: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val o = prev.select(col("doc_id"), md5(col("text")).as("__ho"),
      col("source").as("__so"), col("lang").as("__lo"), col("split").as("__po"))
    val n = cur.select(col("doc_id"), md5(col("text")).as("__hn"),
      col("source").as("__sn"), col("lang").as("__ln"), col("split").as("__pn"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("__sn"), col("__so")).as("source"),
        coalesce(col("__pn"), col("__po")).as("split"),
        when(col("__ho").isNull, "added")
          .when(col("__hn").isNull, "removed")
          // every governance compare null-safe (r19 self-review: ===
          // on a null-on-both-sides source/split misreported the doc
          // as 'changed' — the same null class the publish fingerprint
          // coalesces against)
          .when(col("__ho") === col("__hn") && (col("__so") <=> col("__sn")) &&
            (col("__lo") <=> col("__ln")) && (col("__po") <=> col("__pn")),
            "unchanged")
          .otherwise("changed").as("status"),
        col("doc_id"))
      .groupBy(col("source"), col("split"), col("status"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .orderBy("source", "split", "status")
  }

  val pReleaseChangelog = QueryDef(
    "p11_release_changelog",
    (s, dir) => publishGate.synchronized {
      // p11 is an AUDIT: it reads committed versions, it does not own
      // publication — so the two-day pair publishes only if absent
      // (the publishedReleaseDir discipline). Whatever wrote the root
      // (p10's reps, or this bootstrap), every writer appends day-1
      // full then day-2 delta, so under lag-one retention the last two
      // committed versions are always (day-1, day-2).
      val root = incrReleaseRoot(s, dir)
      val have = graft.sources.IncrementalRelease.versions(s, root)
      if (have.length < 2) {
        if (have.isEmpty)
          graft.sources.IncrementalRelease.publishFull(
            releasedDocsOf(Scaffold.previousSnapshot(Tables.documents(s, dir))), root)
        graft.sources.IncrementalRelease.publishDelta(releasedDocs(s, dir), root)
      }
      val vs = graft.sources.IncrementalRelease.versions(s, root)
      require(vs.length >= 2, s"changelog needs two committed versions under $root")
      releaseChangelog(
        graft.sources.IncrementalRelease.readVersion(s, root, vs(vs.length - 2)),
        graft.sources.IncrementalRelease.readVersion(s, root, vs.last))
    },
    Some(s"""
      WITH prev AS (
        SELECT doc_id,
               CASE WHEN doc_id % 19 = 0 THEN text || ' legacy revision'
                    ELSE text END AS text,
               lang, source, n_chars
        FROM documents WHERE doc_id % 17 <> 0
        UNION ALL
        SELECT doc_id - (SELECT MIN(doc_id) FROM documents)
                      + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id,
               text, lang, source, n_chars
        FROM documents WHERE doc_id % 23 = 0),
      ${releaseSqlCtesOver("prev", "1")},
      ${releaseSqlCtesOver("documents", "2")},
      r1 AS (
        SELECT doc_id, md5(text) AS h, source, lang,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'cc' THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM clean1),
      r2 AS (
        SELECT doc_id, md5(text) AS h, source, lang,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'cc' THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM clean2),
      d AS (
        SELECT COALESCE(r2.source, r1.source) AS source,
               COALESCE(r2.split, r1.split) AS split,
               CASE WHEN r1.h IS NULL THEN 'added'
                    WHEN r2.h IS NULL THEN 'removed'
                    WHEN r1.h = r2.h AND r1.source IS NOT DISTINCT FROM r2.source
                         AND r1.lang IS NOT DISTINCT FROM r2.lang
                         AND r1.split IS NOT DISTINCT FROM r2.split THEN 'unchanged'
                    ELSE 'changed' END AS status,
               COALESCE(r2.doc_id, r1.doc_id) AS doc_id
        FROM r1 FULL OUTER JOIN r2 USING (doc_id))
      SELECT source, split, status, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
      FROM d GROUP BY source, split, status ORDER BY source, split, status"""))

  // ---- p12: incremental fuzzy release (r19) ----------------------------

  private[graft] def fuzzyReleaseRoot(s: org.apache.spark.sql.SparkSession,
                                      dir: String): String =
    releaseRoot(s, dir) + "_fuzzy"

  /** Day-1 / increment boundary for p12's QueryDef universe: crawl ids
    * are monotone, so "yesterday's corpus" is ids < 400 and today's
    * increment is ids ≥ 400 — every SF has both sides populated (ids
    * run 0..499+), and the boundary sits ABOVE the funnel's near-dup
    * probe bound (250), which is what makes the stored-probe algebra
    * below exact. */
  private val P12Boundary = 400L

  /** p12 (r19, the r18 verdict's #1) — the daily production loop as
    * ONE artifact: day-1 publishes the full p9 fuzzy-funnel release
    * (URL dedup → exact canon → near-dup keep-best → quality → eval
    * drop → decon → split) and persists one stored index per corpus-
    * sized stage; day-2's funnel then runs with ZERO corpus-stage
    * recomputation —
    *
    *   - URL stage: the increment probes d14b's stored keeper table
    *     ([[UrlQueries.probeUrlBatch]]; kept = own keeper), never
    *     re-canonicalizing day-1;
    *   - exact stage: the increment's local canon drops already-stored
    *     texts via the persisted text-hash keys (matched-slice
    *     discipline: the index is semi-joined map-side by the
    *     increment's guarded-broadcast hashes, then the increment
    *     anti-joins the increment-sized matched slice) — day-1's
    *     canonical rows re-enter from the PUBLISHED ARTIFACT plus the
    *     stored canon remainder (no raw day-1 scan; no text ever
    *     re-hashes or re-shuffles);
    *   - near-dup stage: [[DedupQueries.ngramPairsIncrementalStored]]
    *     probes the PERSISTED day-1 gram postings with increment grams
    *     only — the d8 stored-index discipline on the d4 exact-Jaccard
    *     universe, so the whole composition stays DuckDB-restatable —
    *     and unions the stored day-1 pairs;
    *
    * and the result publishes through p10's delta lineage
    * (fingerprint diff against the day-1 artifact, O(touched buckets)
    * write). The monotone-id contract (increment ids > all day-1 ids ≥
    * probe bound) is what makes each stored stage EXACT, not
    * approximate: URL and text-hash elections are min-id and day-1
    * keepers can never be evicted, and no increment-internal near-dup
    * pair exists in either path's universe (a-side < probe bound <
    * boundary).
    *
    * The ORACLE is the p10/d10b equality pattern, against p9's OWN
    * shared CTE chain: the manifest of the delta-published day-2
    * artifact must hash-equal a from-scratch p9 fuzzy release of
    * corpus ∪ increment — proving delta-published-fuzzy ≡ re-mined-
    * and-republished through the filesystem round-trip.
    * FuzzyIncrementalSpec additionally pins each stored-fed stage
    * frame-equal to its re-mined twin on the fixture.
    *
    * Scale shape (the 100 TB daily loop): day-N's plan touches NO raw
    * day-1 bytes at all (r20, the r19 verdict's #2) — corpus text
    * re-enters from the PUBLISHED artifact plus the attrition-sized
    * stored `canonrest` remainder, decon probes the STORED eval-gram
    * table unioned with the increment's own grams, and the only
    * corpus-sized work left is the release-pool read itself plus
    * publishDelta's one fingerprint scan per diff side. Everything
    * else — canonicalization, hashing, shingling, posting joins — is
    * O(increment). FuzzyIncrementalSpec trace-gates the steady-state
    * day-2 plan: zero FileSourceScan roots outside the release dir and
    * the index store. Day-over-day continuation is
    * [[appendFuzzyMineIndex]] (the fold — day-3 probes corpus ∪ day-2);
    * the QueryDef keeps the two-day shape so its oracle stays the
    * from-scratch p9 twin, and the three-day fold chain is pinned in
    * FuzzyIncrementalSpec. The QueryDef deliberately runs the WHOLE
    * two-day lifecycle per rep (day-1 publish included, the p10
    * convention); production runs day-1 once. */
  /** The fuzzy-mine index family's stage parameters — the d4-universe
    * geometry every table under `fzPath` was built with. Stamped at
    * init and REQUIRED by the assembly and the fold: probing postings
    * built under one bound with pairs mined under another is silent
    * wrongness, exactly the class the d8 geometry stamp exists for. */
  private[graft] final case class FuzzyMineParams(
      threshold: Double = 0.4,
      probeBound: Long = 250L,
      corpusBound: Long = 500L) {
    // internal coherence (r20 review): postings are filtered by
    // probeBound alone while the full-mine universe is additionally
    // corpus-bounded — probeBound > corpusBound would persist probe
    // rows the from-scratch twin excludes, and every later increment
    // would emit extra pairs SILENTLY (the stamp only proves
    // same-params probing, not that the params make sense)
    require(probeBound <= corpusBound,
      s"fuzzy-mine geometry requires probeBound ($probeBound) <= " +
        s"corpusBound ($corpusBound)")
    def stamp: String =
      s"fuzzymine-v3:thr=$threshold|probe=$probeBound|corpus=$corpusBound"
  }

  private val FuzzyGeometryStamp = "_graft_fuzzymine_geometry"

  /** The fuzzy-mine tables' WRITER schemas (guide §6 — explicit read
    * schemas skip the per-read footer-inference job; p12's steady-state
    * rep paid ten of them). Each DDL mirrors the one projection that
    * writes the table in [[initFuzzyMineIndex]] / [[appendFuzzyMineIndex]]:
    * change a writer, change its row here (FuzzyIncrementalSpec's
    * frame-equality pins catch a drifted entry — a misnamed column
    * null-fills and the from-scratch twin comparison fails). `canonrest`
    * is the release-contract columns WITHOUT split (the assembly's
    * strict unionByName with the pool read enforces exactly that set);
    * parquet matches top-level columns by name, so writer column order
    * is free to differ. */
  private val FuzzyTableSchemas: Map[String, org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.StructType
    Map(
      "canonids"   -> StructType.fromDDL("doc_id LONG"),
      "texthashes" -> StructType.fromDDL("__h STRING"),
      "postings"   -> StructType.fromDDL(
        "source STRING, a LONG, na INT, gram STRING"),
      "pairs"      -> StructType.fromDDL("a LONG, b LONG, jaccard DOUBLE"),
      "evalgrams"  -> StructType.fromDDL("gram STRING"),
      "canonrest"  -> StructType.fromDDL(
        "doc_id LONG, text STRING, n_chars LONG, source STRING, lang STRING"))
  }

  /** The fuzzy family's schema-pinned [[graft.sources.IndexStore.readSwappable]]. */
  private def fuzzyTbl(s: org.apache.spark.sql.SparkSession, fzPath: String,
                       n: String): org.apache.spark.sql.DataFrame =
    graft.sources.IndexStore.readSwappable(s, fzPath, n, FuzzyTableSchemas(n))

  private def requireFuzzyGeometry(s: org.apache.spark.sql.SparkSession,
                                   fzPath: String, p: FuzzyMineParams): Unit =
    graft.sources.IndexStore.requireStamp(s, fzPath, FuzzyGeometryStamp,
      p.stamp, "fuzzy-mine index geometry")

  /** Build p12's near-dup/exact stored stage index over the day-1
    * corpus `day1` (docs WITH a url column) at `fzPath`: the canonical
    * doc ids, their text-hash keys, the probe-side gram postings, the
    * mined day-1 pair set, the deduped eval-slice 5-grams (so day-N
    * decon never re-scans day-1 — [[fuzzyStoredEvalGrams]]), and the
    * canon REMAINDER (canonical docs the day-1 release dropped —
    * keep-best losers, quality fails, eval docs, decon hits), which is
    * what lets day-2 re-enter the FULL canonical set from the
    * published artifact plus this attrition-sized table instead of the
    * raw corpus ([[fuzzyStoredAssembly]]). This is the day-1
    * snapshot-time corpus work — the ONE place day-1 docs are
    * canonicalized, hashed and shingled. (The URL keeper index is its
    * own family — [[UrlQueries.initStoredUrlIndex]] — with its own
    * format stamp.) */
  private[graft] def initFuzzyMineIndex(s: org.apache.spark.sql.SparkSession,
                                        fzPath: String,
                                        day1: org.apache.spark.sql.DataFrame,
                                        params: FuzzyMineParams = FuzzyMineParams(),
                                        maxBroadcastEvalGrams: Long = 10000000L): Unit = {
    graft.sources.IndexStore.clearStamp(s, fzPath, FuzzyGeometryStamp)
    val canon1b = exactCanonOf(UrlQueries.urlCanonOf(day1).drop("url")).staged
    canon1b.select(col("doc_id")).write.mode("overwrite")
      .parquet(graft.sources.IndexStore.resetTablePath(s, fzPath, "canonids"))
    canon1b.select(md5(col("text")).as("__h")).write.mode("overwrite")
      .parquet(graft.sources.IndexStore.resetTablePath(s, fzPath, "texthashes"))
    DedupQueries.charGramPostings(canon1b, params.probeBound).write.mode("overwrite")
      .parquet(graft.sources.IndexStore.resetTablePath(s, fzPath, "postings"))
    DedupQueries.ngramPairsOf(canon1b, threshold = params.threshold,
        probeBound = params.probeBound, corpusBound = params.corpusBound)
      .write.mode("overwrite")
      .parquet(graft.sources.IndexStore.resetTablePath(s, fzPath, "pairs"))
    evalGramsOf(day1).write.mode("overwrite")
      .parquet(graft.sources.IndexStore.resetTablePath(s, fzPath, "evalgrams"))
    // the remainder needs day-1's RELEASED set — computed here from the
    // just-written tables (one scan each, not a re-mine), so the family
    // invariant `canonrest = canon − released` holds from init on
    def tbl(n: String) = fuzzyTbl(s, fzPath, n)
    val rel1 = fuzzyStagesFromCanonGrams(tbl("evalgrams"), canon1b,
      tbl("pairs"), maxBroadcastEvalGrams, stagePerStage = false).released
    canon1b.join(rel1.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .write.mode("overwrite")
      .parquet(graft.sources.IndexStore.resetTablePath(s, fzPath, "canonrest"))
    graft.sources.IndexStore.writeStamp(s, fzPath, FuzzyGeometryStamp, params.stamp)
  }

  /** Day-N's stored-fed stage outputs: the full-corpus canonical set
    * and pair set, plus the O(increment) pieces ([[appendFuzzyMineIndex]]
    * folds them so day-N+1 probes corpus ∪ this increment). */
  private[graft] final case class FuzzyAssembly(
      canon: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame,
      incCanonNew: org.apache.spark.sql.DataFrame,
      incPairs: org.apache.spark.sql.DataFrame)

  /** Day-N's stored-fed stage assembly: (canonical set, near-dup pair
    * set) of corpus ∪ increment with ZERO corpus-stage recomputation —
    * the URL stage probes the stored keeper table, the exact stage
    * anti-joins the stored text-hash keys (matched-slice discipline),
    * the near-dup stage probes the stored gram postings and unions the
    * stored pair table. Corpus text re-enters from the PUBLISHED
    * artifact (release-sized, content-bucketed, already funnel-shaped)
    * plus the stored `canonrest` remainder — never the raw corpus
    * (r20, VERDICT r19 #2): released ⊆ canon and canonrest = canon −
    * released at the last publish, so their union IS the canonical
    * set, column-exact through the parquet round-trip. CONTRACT the
    * artifact re-entry imposes (r20 review — the old id-keyed join did
    * not): the corpus must carry exactly the release contract columns
    * (`doc_id, text, n_chars` plus the `source`/`lang` governance
    * metadata) — the pool reads back with ReleaseWriter.fullSchema, so
    * an extra corpus column (dropped by the publish slim) or a missing
    * meta column (null-filled by the read schema) makes the strict
    * unionByName with `canonrest` throw at assembly — loud, by design.
    * Exact, not approximate, under the monotone-id contract (see
    * [[pIncrementalFuzzy]], enforced in
    * [[DedupQueries.ngramPairsIncrementalStored]]);
    * FuzzyIncrementalSpec pins each output frame-equal to its
    * from-scratch re-mined twin, across a three-day fold chain. */
  private[graft] def fuzzyStoredAssembly(
      s: org.apache.spark.sql.SparkSession, urlPath: String, fzPath: String,
      relRoot: String, inc: org.apache.spark.sql.DataFrame,
      params: FuzzyMineParams = FuzzyMineParams(),
      maxBroadcastKeys: Long = 5000000L): FuzzyAssembly = {
    requireFuzzyGeometry(s, fzPath, params)
    def tbl(n: String) = fuzzyTbl(s, fzPath, n)
    val canon1 = graft.sources.IncrementalRelease.readCurrent(s, relRoot)
      .drop("split").unionByName(tbl("canonrest"))
    val verdicts = UrlQueries.probeUrlBatch(s, urlPath,
      inc.select(col("doc_id"), col("url")))
    val incUrlKept = inc.drop("url").join(
      verdicts.filter(col("doc_id") === col("keeper_id")).select("doc_id"),
      "doc_id")
    // increment-local exact canon (one row per distinct text already,
    // so its hash projection needs no further distinct)
    val incCanonLocal = exactCanonOf(incUrlKept).staged
    // ONE measured count guards BOTH hash frames (r22, VERDICT r21 #3 —
    // propagate bounds the plan has already computed): `texthashes` is
    // a SET by the family's own contract (init writes exactCanonOf's
    // distinct-text projection; append only ever adds hashes that the
    // matched-slice anti-join proved absent), so the left-semi keeps at
    // most one stored row per increment hash and |matchedH| ≤ |incH|.
    // Under the bound the matched slice is broadcast directly — its
    // single consumer is the anti-join build, so the old second
    // stage+count pass measured (and materialized) a frame the bound
    // already covered. Over the bound, the measured guard as before.
    val incH = graft.plans.Stage(
      incCanonLocal.select(md5(col("text")).as("__h")))
    val nIncH = incH.count()
    val hashesUnderBound = nIncH <= maxBroadcastKeys
    val incHashes = if (hashesUnderBound) broadcast(incH) else incH
    val matchedPlan = tbl("texthashes").join(incHashes, Seq("__h"), "left_semi")
    val matchedH =
      if (hashesUnderBound) broadcast(matchedPlan)
      else QueryDef.guardedBroadcast(matchedPlan, maxBroadcastKeys)
    val incCanonNew = incCanonLocal.join(matchedH,
      md5(col("text")) === col("__h"), "left_anti").staged
    val canon2 = canon1.unionByName(incCanonNew)
    // max ingested id: witnesses the monotone-id contract inside the
    // incremental probe (the postings can't — they only hold docs
    // under the probe bound). One column-pruned scan of the id table;
    // a 100 TB deployment would carry it as an index stamp instead.
    // The increment-side min (over the SAME mining-bounded frame the
    // probe consumes) rides the SAME action — one job witnesses both
    // contract ends instead of two (r21, closes the r20 ADVICE #4
    // eager-probe finding). An empty mining frame passes the gate
    // vacuously, exactly as the old in-function null check did.
    val incForMine = incCanonNew.filter(col("doc_id") < params.corpusBound)
    val bounds = tbl("canonids").agg(max(col("doc_id")).as("__mx"))
      .crossJoin(incForMine.agg(min(col("doc_id")).as("__mn"))).head()
    val storedMaxId =
      if (bounds.isNullAt(0)) Long.MinValue else bounds.getLong(0)
    val incMinId =
      if (bounds.isNullAt(1)) Long.MaxValue else bounds.getLong(1)
    val incPairs = DedupQueries.ngramPairsIncrementalStored(
      tbl("postings"), storedMaxId, incForMine,
      threshold = params.threshold, probeBound = params.probeBound,
      incMinId = Some(incMinId))
    FuzzyAssembly(canon2, tbl("pairs").unionByName(incPairs),
      incCanonNew, incPairs)
  }

  /** Day-N's decon probe side with zero day-1 re-scan: the stored
    * eval-gram table unioned with the increment's own grams (exact —
    * eval membership is per-doc deterministic, so the gram set of a
    * union is the union of gram sets). */
  private[graft] def fuzzyStoredEvalGrams(
      s: org.apache.spark.sql.SparkSession, fzPath: String,
      incRaw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    fuzzyTbl(s, fzPath, "evalgrams")
      .unionByName(evalGramsOf(incRaw)).distinct()

  /** The fuzzy funnel's RELEASE frame (released docs + deterministic
    * split — the publishable contract, p4's step-4 shape) from an
    * already-assembled canonical set, near-dup edge set, and decon
    * gram frame — both p12 publishers' seat: day-1 feeds the stored
    * day-1 tables, day-N feeds [[fuzzyStoredAssembly]] +
    * [[fuzzyStoredEvalGrams]], so the gates either day publishes under
    * are definitionally p9's. */
  private[graft] def fuzzyReleasedByGrams(
      evalGrams: org.apache.spark.sql.DataFrame,
      canon: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame,
      maxBroadcastEvalGrams: Long = 10000000L): org.apache.spark.sql.DataFrame =
    // publishers consume ONLY `released` — lean staging (r22): one
    // corpus materialization at `kept`, not one per funnel stage
    fuzzyStagesFromCanonGrams(evalGrams, canon, pairs, maxBroadcastEvalGrams,
        stagePerStage = false)
      .released.withColumn("split", SampleQueries.splitCol)

  /** Fold a published day's increment back into the fuzzy-mine index —
    * the append lifecycle every sibling stored family already has
    * (d8 `appendStoredIndex`, d10b/d12b, d14b/UrlIngest), closing the
    * r19 verdict's #1: after this, day-N+1's [[fuzzyStoredAssembly]]
    * probes corpus ∪ this increment with zero recomputation (day-3
    * has something exact to probe). Appends are O(increment) and
    * log-structured — ids, hashes, probe-side postings, the day's
    * mined pairs, and the increment's new eval grams (anti-joined so
    * the table stays a distinct set) — except `canonrest`, which is
    * REPLACED (attrition-sized, atomic versioned swap): the remainder
    * is `canon − released` and a previously-released doc can LEAVE the
    * release (outvoted by a new keep-best arrival, or newly
    * contaminated by an increment eval doc), so it must re-enter the
    * remainder or day-N+2's canon re-entry silently loses it.
    *
    * Gates (both fail-stop BEFORE any write — the silent-wrongness
    * classes this family refuses to document away): (1) the
    * monotone-id contract (min increment id > max ingested id), which
    * is what makes every stored stage exact; (2) `released` must BE
    * the artifact currently committed under `relRoot` — the fold runs
    * AFTER the day's `publishDelta`, and canonrest := canon − released
    * only holds against the release the NEXT day actually re-enters
    * from (r20 review: a fold before the publish, or with a frame that
    * differs from the artifact, would silently drop every newly
    * released doc from day-N+1's canonical set). Maintainer-owned
    * batch path (the d8 convention): a crash mid-fold can leave
    * partial appends; re-running the fold trips the monotone gate
    * loudly rather than double-appending. `incRaw` is the raw
    * increment (eval grams come from raw docs — benchmark data
    * contributes grams whether or not any stage kept it). The URL
    * keeper fold is its own family call —
    * [[UrlQueries.appendUrlKeepersTagged]]. */
  private[graft] def appendFuzzyMineIndex(
      s: org.apache.spark.sql.SparkSession, fzPath: String, relRoot: String,
      asm: FuzzyAssembly, incRaw: org.apache.spark.sql.DataFrame,
      released: org.apache.spark.sql.DataFrame,
      params: FuzzyMineParams = FuzzyMineParams()): Unit = {
    requireFuzzyGeometry(s, fzPath, params)
    val pubIds = graft.sources.IncrementalRelease.readCurrent(s, relRoot)
      .select(col("doc_id"))
    // `released` is typically the day's full funnel plan — staged ONCE
    // here so the two artifact-equality gates and the canonrest rewrite
    // below consume a materialized id set instead of re-running the
    // funnel three times (r21, closes the r20 ADVICE #1 finding)
    val relIds = graft.plans.Stage(released.select(col("doc_id")))
    val missing = relIds.join(pubIds, Seq("doc_id"), "left_anti").limit(1).count()
    val extra = pubIds.join(relIds, Seq("doc_id"), "left_anti").limit(1).count()
    require(missing == 0L && extra == 0L,
      s"appendFuzzyMineIndex: `released` does not match the artifact " +
        s"committed under $relRoot (missing=$missing extra=$extra sides " +
        "populated) — the fold must run AFTER the day's publishDelta, with " +
        "the published frame; refusing to rewrite canonrest against a " +
        "release the next day will not re-enter from")
    def tbl(n: String) = fuzzyTbl(s, fzPath, n)
    val maxStoredRow = tbl("canonids").agg(max(col("doc_id"))).head()
    val minIncRow = asm.incCanonNew.agg(min(col("doc_id"))).head()
    require(minIncRow.isNullAt(0) || maxStoredRow.isNullAt(0) ||
        minIncRow.getLong(0) > maxStoredRow.getLong(0),
      s"appendFuzzyMineIndex: increment min doc_id ${minIncRow.get(0)} <= " +
        s"stored max id ${maxStoredRow.get(0)} under $fzPath — the " +
        "monotone-id contract is violated (double fold, or out-of-order " +
        "ingest); refusing to append")
    def dataPath(n: String) =
      graft.sources.IndexStore.tableDataPath(s, fzPath, n)
    asm.incCanonNew.select(col("doc_id"))
      .write.mode("append").parquet(dataPath("canonids"))
    asm.incCanonNew.select(md5(col("text")).as("__h"))
      .write.mode("append").parquet(dataPath("texthashes"))
    DedupQueries.charGramPostings(asm.incCanonNew, params.probeBound)
      .write.mode("append").parquet(dataPath("postings"))
    asm.incPairs.write.mode("append").parquet(dataPath("pairs"))
    // materialize the anti-joined new-gram frame BEFORE appending into
    // the table its own plan reads (r21, closes the r20 ADVICE #2
    // finding: the old shape only worked because the scan's file
    // listing was pinned at plan creation — a fragile
    // read-from-write-target pattern)
    graft.plans.Stage(
      evalGramsOf(incRaw).join(tbl("evalgrams"), Seq("gram"), "left_anti"))
      .write.mode("append").parquet(dataPath("evalgrams"))
    graft.sources.IndexStore.replaceTable(s, fzPath, "canonrest") { (_, dst) =>
      asm.canon.join(relIds, Seq("doc_id"), "left_anti")
        .write.parquet(dst)
    }
  }

  val pIncrementalFuzzy = QueryDef(
    "p12_incremental_fuzzy_release",
    (s, dir) => publishGate.synchronized {
      val docs = Tables.documents(s, dir)
      val withUrl = docs.withColumn("url", Scaffold.messyUrlFunnel)
      val day1 = withUrl.filter(col("doc_id") < P12Boundary)
      val inc = withUrl.filter(col("doc_id") >= P12Boundary)
      val root = fuzzyReleaseRoot(s, dir)
      val srcStamp = graft.sources.IndexStore.sourceStamp(
        s, s"$dir/documents.parquet")
      // stored stage indexes — built once per corpus snapshot (ensure
      // is keyed on the source stamp + the stage parameters)
      val urlPath = graft.sources.IndexStore.indexPath(dir, "p12_urlcanon_lt400")
      graft.sources.IndexStore.ensure(s, urlPath,
        s"v2|corpus=(doc_id < $P12Boundary)|inject=funnelv2|src=$srcStamp") {
        UrlQueries.initStoredUrlIndex(s, urlPath,
          day1.select(col("doc_id"), col("url")))
      }
      val fzPath = graft.sources.IndexStore.indexPath(dir, "p12_fuzzyrel_lt400")
      graft.sources.IndexStore.ensure(s, fzPath,
        s"v3|boundary=$P12Boundary|probe=250|corpus=500|thr=0.4|inject=funnelv2|src=$srcStamp") {
        initFuzzyMineIndex(s, fzPath, day1)
      }
      def tbl(n: String) = fuzzyTbl(s, fzPath, n)
      // day-1 publish: canon re-entered by STORED id, pairs and eval
      // grams from the stored tables — no day-1 re-hash, no re-mine,
      // no eval re-scan (snapshot day is the last time raw day-1 text
      // is canonicalized; publishing it is the day's job)
      val canon1 = day1.drop("url").join(tbl("canonids"), "doc_id")
      graft.sources.IncrementalRelease.publishFull(
        fuzzyReleasedByGrams(tbl("evalgrams"), canon1, tbl("pairs")), root)
      // day-2: every corpus-sized stage input is stored-index-fed, and
      // day-1 TEXT re-enters from the published artifact + the stored
      // canon remainder — the steady-state plan touches no raw day-1
      // bytes at all (FuzzyIncrementalSpec trace-gates the scan roots)
      val asm = fuzzyStoredAssembly(s, urlPath, fzPath, root, inc)
      graft.sources.IncrementalRelease.publishDelta(
        fuzzyReleasedByGrams(fuzzyStoredEvalGrams(s, fzPath, inc),
          asm.canon, asm.pairs), root)
    },
    Some(s"""
      WITH RECURSIVE $funnelUrlCtes,
      $fuzzyFunnelSqlCtes,
      a AS (
        SELECT doc_id, text, n_chars,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'cc' THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 3, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 13, 4)) AS BIGINT) % 8
                 AS bucket
        FROM released)
      SELECT split, bucket, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 10))
               AS BIGINT)) AS BIGINT) AS digest
      FROM a GROUP BY split, bucket ORDER BY split, bucket"""))

  // ---- Audit-from-published-release mode (r17) -----------------------
  // The production 100 TB shape: a release is published ONCE (p4) and
  // audited MANY times — dataset cards regenerate per consumer request,
  // leakage audits rerun per benchmark refresh — so the audits must
  // scan the published artifact (release-sized), not recompute the
  // canon→quality→decon stack from raw documents (corpus-sized) per
  // audit. Each variant reuses its in-plan twin's EXACT body over
  // releaseFrame, and its DuckDB oracle is the twin's logical release
  // definition — so every fromRelease row also re-proves, through the
  // filesystem round-trip, that the published artifact IS the logical
  // release. PlanAuditSpec pins zero raw-document scan in the audit
  // plans; FromReleaseSpec pins equality with the in-plan twins.

  /** The logical-release CTE block (exact canon → t9 quality gate →
    * held-out eval drop → 5-gram decontamination → `clean`), shared by
    * the r18 fromRelease oracles (t26f, x5f) so new audits stop copying
    * it. Ends INSIDE a WITH list — append `, <cte> AS (...)` and a
    * final SELECT. Carries lang (the governance column the fertility
    * card groups by). */
  private[graft] val releaseSqlCtes: String = releaseSqlCtesOver("documents", "")

  /** The same block parameterized by base snapshot and CTE-name suffix,
    * so an oracle can state TWO releases side by side (p11 diffs the
    * day-1 release over the derived previous snapshot against the day-2
    * release over `documents`). `releaseSqlCtes` is the `("documents",
    * "")` instance — one template, no drift between the single- and
    * two-release consumers. */
  private[graft] def releaseSqlCtesOver(base: String, sfx: String): String =
    s"""canon$sfx AS (
        SELECT doc_id, text, source, lang, n_chars
        FROM (SELECT doc_id, text, source, lang, n_chars,
                     MIN(doc_id) OVER (PARTITION BY text) AS m FROM $base)
        WHERE doc_id = m),
      b$sfx AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS tk
        FROM canon$sfx WHERE len(string_split(text, ' ')) >= 2),
      tc$sfx AS (
        SELECT doc_id, t AS tok, COUNT(*) AS c
        FROM b$sfx, UNNEST(b$sfx.tk) AS u(t) GROUP BY doc_id, t),
      tp$sfx AS (SELECT doc_id, MAX(c) AS max_c FROM tc$sfx GROUP BY doc_id),
      q$sfx AS (
        SELECT b$sfx.doc_id FROM b$sfx JOIN tp$sfx USING (doc_id)
        WHERE len(tk) BETWEEN 30 AND 1000
          AND ((n_chars - CAST(len(tk) - 1 AS DOUBLE)) / len(tk)) BETWEEN 3.0 AND 10.0
          AND len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) >= 2
          AND CAST(tp$sfx.max_c AS DOUBLE) / len(tk) <= 0.2
          AND 1.0 - CAST(len(list_distinct(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i+1]))) AS DOUBLE) / (len(tk) - 1) <= 0.3),
      pre$sfx AS (
        SELECT canon$sfx.* FROM canon$sfx JOIN q$sfx USING (doc_id) WHERE doc_id % 37 <> 0),
      evalg$sfx AS (
        SELECT DISTINCT u.t AS gram
        FROM (SELECT list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT string_split(text, ' ') AS tk FROM $base
                    WHERE doc_id % 37 = 0)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      candg$sfx AS (
        SELECT doc_id, u.t AS gram
        FROM (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 3),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                     tk[i+3] || ' ' || tk[i+4])) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM pre$sfx)
              WHERE len(tk) >= 5) d, UNNEST(d.g) AS u(t)),
      contaminated$sfx AS (SELECT DISTINCT doc_id FROM candg$sfx JOIN evalg$sfx USING (gram)),
      clean$sfx AS (
        SELECT * FROM pre$sfx
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated$sfx))"""

  /** p5f: the p5 dataset card computed from the published release. */
  val pReleaseReportFromRelease = QueryDef(
    "p5f_report_from_release",
    (s, dir) => releaseReportOf(releaseFrame(s, dir)),
    pReleaseReport.oracle)

  /** p5cf: the p5c domain-mix table computed from the published release. */
  val pDomainMixFromRelease = QueryDef(
    "p5cf_domain_mix_from_release",
    (s, dir) => domainMixOf(releaseFrame(s, dir),
      new graft.functions.SuffixRules(SampleQueries.storedSuffixRules(s, dir))),
    pDomainMix.oracle)

  /** p6f: the p6 split-leakage audit computed from the published
    * release — splitLeakage was already frame-parametrized. */
  val pSplitLeakageFromRelease = QueryDef(
    "p6f_split_leakage_from_release",
    (s, dir) => splitLeakage(releaseFrame(s, dir)),
    pSplitLeakage.oracle)

  val all: Seq[QueryDef] =
    Seq(pCuration, pRelease, pManifest, pReleaseWrite, pReleaseReport,
      pSplitLeakage, pDomainMix, pGatedFunnel, pSftRelease, pFuzzyFunnel, pIncrementalRelease,
      pReleaseChangelog, pIncrementalFuzzy, pReleaseReportFromRelease,
      pDomainMixFromRelease, pSplitLeakageFromRelease)
}
