package graft.operators

import org.apache.spark.sql.functions._

import graft.plans.Stage.StageOps
import graft.sources.Tables
import graft.stats.{Design, Glm}

/** Model-based quality filtering (t16) — the distillation shape every
  * large-scale curation pipeline uses (fastText-style quality
  * classifiers are bootstrapped exactly this way: label a corpus slice
  * with a cheap rule, fit a smooth classifier on OTHER features, score
  * everything): weak labels come from the t2 rule filter
  * (quality ≥ 0.64), the model sees only the smooth features
  * (stop_ratio, type-token ratio, log length — NOT the rule's length
  * window), and the fitted model emits a per-document keep probability.
  *
  * Scale design: the feature pass is computed ONCE and staged — the
  * R-parity IRLS ([[graft.stats.Glm.logistic]]) then runs each
  * iteration as one distributed moment pass over the staged features
  * (N+1 scans total for N updates), coefficients are stored
  * via the IndexStore discipline (train once, score many — the
  * production lifecycle: the model that scored yesterday's corpus is
  * the model that scores today's increment) and return to the plan as
  * literals, and scoring is a map-side codegen'd expression. Nothing
  * about the fit or the scoring holds per-row state on the driver; a
  * 100 TB corpus costs the same ~5 scans to fit and ONE to score.
  *
  * Oracle (r16, upgraded from a pin — the h1 committed-fixture
  * discipline): the deterministic fitted coefficients are committed at
  * full double precision in oracles/t16_coefs.csv keyed by corpus doc
  * count (regenerate: `Test/runMain graft.Regen oraclefix` after an
  * intentional feature/IRLS change); DuckDB recomputes the features and
  * the closed-form dot-product + sigmoid scoring from them. The compare
  * therefore checks BOTH that the live IRLS still reproduces the
  * committed coefficients (any fit drift moves every score) AND that
  * the scoring math is cross-engine exact. Only the FIT is
  * DuckDB-inexpressible — freezing it makes everything downstream
  * closed-form SQL. Features are rounded at 6 before both fit and
  * scoring (the c14/t24 float discipline: ln() may differ by 1 ulp
  * across engines; round-6 absorbs it).
  */
object ClassifierQueries {

  /** doc_id, weak label y, and the three model features — one pass.
    * The label is THE t2 rule (shared TextQueries.qualityExpr ≥ 0.64)
    * and the ratio features are the rule's OWN sub-expressions
    * (TextQueries.stopRatio/typeTokenRatio), so neither the
    * distillation target nor the features can drift from the filter. */
  private[graft] def featureFrame(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame =
    QueryDef.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        round(TextQueries.stopRatio(col("tk")), 6).as("stop_ratio"),
        round(TextQueries.typeTokenRatio(col("tk")), 6).as("ttr"),
        round(log(size(col("tk")).cast("double")), 6).as("log_len"),
        when(TextQueries.qualityExpr(col("tk"), col("n_chars")) >= 0.64, 1.0)
          .otherwise(0.0).as("y"))
      .staged

  private[graft] val design: Design = Design(
    Design.intercept,
    ("stop_ratio", col("stop_ratio")),
    ("ttr", col("ttr")),
    ("log_len", col("log_len")))

  // read-back memo, keyed (appId, dir, meta) like pqIndexMemo: the
  // weights table is 4 rows but the read is per-invocation; the meta
  // key includes the source stamp so a regenerated corpus within one
  // application refits instead of serving stale weights
  private val weightsMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Array[Double]]()

  /** Train-once-then-read the persisted classifier weights (the t19
    * stored-vocab discipline applied to model coefficients): the IRLS
    * fit runs only when the store is absent or its source/design stamp
    * moved; every later invocation — including every scoring run on a
    * corpus increment — reads 4 rows. The stored artifact is what makes
    * scores REPRODUCIBLE across runs and machines: a refit on a
    * different executor count yields bit-identical coefficients (the
    * decimal-cast Gramian discipline), but the store removes even that
    * recompute from the scoring path. */
  def storedQualityWeights(s: org.apache.spark.sql.SparkSession,
                           dir: String): Array[Double] = {
    val path = graft.sources.IndexStore.indexPath(dir, "t16_logit")
    val meta = s"v1|design=${design.names.mkString(",")}|" +
      s"src=${graft.sources.IndexStore.sourceStamp(s, s"$dir/documents.parquet")}"
    val appId = s.sparkContext.applicationId
    weightsMemo.keySet.removeIf(k =>
      k._1 == appId && k._2 == dir && k._3 != meta)
    weightsMemo.computeIfAbsent((appId, dir, meta), _ => {
      graft.sources.IndexStore.ensure(s, path, meta) {
        val fit = Glm.logistic(featureFrame(s, dir), design, col("y"))
        require(fit.converged,
          "t16_quality_classifier: IRLS did not converge — refusing to " +
            "store weights from an unconverged fit")
        val rows = design.names.zip(fit.coef.toArray).zipWithIndex.map {
          case ((name, v), i) => (i, name, v)
        }
        import s.implicits._
        rows.toSeq.toDF("idx", "name", "value")
          .repartition(1).write.mode("overwrite").parquet(s"$path/weights")
      }
      s.read.parquet(s"$path/weights").collect()
        .sortBy(_.getInt(0)).map(_.getDouble(2))
    })
  }

  val tQualityClassifier = QueryDef(
    "t16_quality_classifier",
    (s, dir) => {
      val beta = storedQualityWeights(s, dir)
      featureFrame(s, dir)
        .select(col("doc_id"), col("y").cast("long").as("label"),
          round(lit(1.0) / (lit(1.0) + exp(-design.dot(beta.toSeq))), 6)
            .as("p_keep"))
        .withColumn("keep", col("p_keep") >= 0.5)
        .orderBy("doc_id")
    },
    // The coefficient fixture is keyed by (COUNT(*), SUM(n_chars)) over
    // documents — n_docs alone collides across sf0.001/sf0.01 — and an
    // sf with no committed row empties the cross join and fails the
    // row-count gate LOUDLY instead of comparing against wrong weights.
    Some("""
      WITH w AS (SELECT * FROM read_csv_auto('/root/repo/oracles/t16_coefs.csv', header=true)),
      sel AS (SELECT b0, b1, b2, b3 FROM w
              WHERE n_docs = (SELECT COUNT(*) FROM documents)
                AND sum_chars = (SELECT SUM(n_chars) FROM documents)),
      b AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tk,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt
            FROM documents),
      f AS (SELECT doc_id,
                   ROUND(len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) / nt, 6) AS sr,
                   ROUND(len(list_distinct(tk)) / nt, 6) AS ttr,
                   ROUND(ln(nt), 6) AS ll,
                   CASE WHEN ROUND(CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 0.5 ELSE 0.0 END
                         + (len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) / nt) * 0.25
                         + (len(list_distinct(tk)) / nt) * 0.25, 6) >= 0.64
                        THEN 1 ELSE 0 END AS label
            FROM b),
      sc AS (SELECT doc_id, label,
                    ROUND(1.0 / (1.0 + exp(-(sel.b0 + f.sr * sel.b1
                      + f.ttr * sel.b2 + f.ll * sel.b3))), 6) AS p_keep
             FROM f CROSS JOIN sel)
      SELECT doc_id, CAST(label AS BIGINT) AS label, p_keep,
             p_keep >= 0.5 AS keep
      FROM sc ORDER BY doc_id"""))

  /** Classifier calibration audit (t29) — the reliability table a
    * model-based filter ships alongside its scores (model governance:
    * "when the model says 0.8, is it right 80% of the time?"): decile
    * bins over the stored-weights keep probability, per bin the doc
    * count, mean predicted probability, realized weak-label rate, and
    * the calibration gap (mean_p − rate; signed, so +0.0-normalized
    * per the r16 signed-zero discipline — it straddles zero by
    * construction). Reuses t16's stored weights and feature frame, so
    * the audit can never disagree with the scores it audits.
    *
    * Scale shape: one map-side scoring scan → a 10-row aggregate with
    * map-side partials; nothing else. */
  val tCalibration = QueryDef(
    "t29_classifier_calibration",
    (s, dir) => {
      val beta = storedQualityWeights(s, dir)
      val scored = featureFrame(s, dir)
        .select(col("y"),
          round(lit(1.0) / (lit(1.0) + exp(-design.dot(beta.toSeq))), 6)
            .as("p"))
      scored
        .groupBy(least(floor(col("p") * 10), lit(9L)).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_docs"),
          round(QueryDef.dsum(col("p"), 6).cast("double") / count(lit(1)), 6)
            .as("mean_p_keep"),
          round(sum(col("y").cast("long")).cast("double") / count(lit(1)), 6)
            .as("label_rate"))
        .withColumn("calib_gap",
          round(col("mean_p_keep") - col("label_rate"), 6) + lit(0.0))
        .select("bin", "n_docs", "mean_p_keep", "label_rate", "calib_gap")
        .orderBy("bin")
    },
    Some("""
      WITH w AS (SELECT * FROM read_csv_auto('/root/repo/oracles/t16_coefs.csv', header=true)),
      sel AS (SELECT b0, b1, b2, b3 FROM w
              WHERE n_docs = (SELECT COUNT(*) FROM documents)
                AND sum_chars = (SELECT SUM(n_chars) FROM documents)),
      b AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tk,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt
            FROM documents),
      f AS (SELECT doc_id,
                   ROUND(len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) / nt, 6) AS sr,
                   ROUND(len(list_distinct(tk)) / nt, 6) AS ttr,
                   ROUND(ln(nt), 6) AS ll,
                   CASE WHEN ROUND(CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 0.5 ELSE 0.0 END
                         + (len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) / nt) * 0.25
                         + (len(list_distinct(tk)) / nt) * 0.25, 6) >= 0.64
                        THEN 1 ELSE 0 END AS label
            FROM b),
      sc AS (SELECT label,
                    ROUND(1.0 / (1.0 + exp(-(sel.b0 + f.sr * sel.b1
                      + f.ttr * sel.b2 + f.ll * sel.b3))), 6) AS p
             FROM f CROSS JOIN sel),
      g AS (SELECT CAST(LEAST(FLOOR(p * 10), 9) AS BIGINT) AS bin, p, label FROM sc),
      agg AS (SELECT bin, COUNT(*) AS n_docs,
                     ROUND(CAST(SUM(CAST(p AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6) AS mean_p_keep,
                     ROUND(CAST(SUM(label) AS DOUBLE) / COUNT(*), 6) AS label_rate
              FROM g GROUP BY bin)
      SELECT bin, n_docs, mean_p_keep, label_rate,
             ROUND(mean_p_keep - label_rate, 6) + 0.0 AS calib_gap
      FROM agg ORDER BY bin"""))

  /** Annotation-batch selection by margin sampling (t30) — the
    * active-learning loop every model-based filter team runs: the next
    * human-labeling batch is the k documents the classifier is LEAST
    * sure about (|p − 0.5| smallest), because labels there move the
    * decision boundary most per annotation dollar (uncertainty
    * sampling, Lewis & Gale 1994). Reuses t16's stored weights and
    * feature frame, so the batch is selected by exactly the scores the
    * filter ships; ties at the margin break to the smallest doc_id in
    * both engines.
    *
    * Scale shape: one map-side scoring scan → a k-row
    * TakeOrderedAndProject (the q11 top-k seat: per-partition heaps,
    * never a global sort). */
  val tAnnotationBatch = QueryDef(
    "t30_annotation_batch",
    (s, dir) => {
      val beta = storedQualityWeights(s, dir)
      featureFrame(s, dir)
        .select(col("doc_id"),
          round(lit(1.0) / (lit(1.0) + exp(-design.dot(beta.toSeq))), 6)
            .as("p_keep"))
        .withColumn("margin", round(abs(col("p_keep") - lit(0.5)), 6))
        .orderBy(col("margin").asc, col("doc_id").asc)
        .limit(40)
    },
    Some("""
      WITH w AS (SELECT * FROM read_csv_auto('/root/repo/oracles/t16_coefs.csv', header=true)),
      sel AS (SELECT b0, b1, b2, b3 FROM w
              WHERE n_docs = (SELECT COUNT(*) FROM documents)
                AND sum_chars = (SELECT SUM(n_chars) FROM documents)),
      b AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tk,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt
            FROM documents),
      f AS (SELECT doc_id,
                   ROUND(len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) / nt, 6) AS sr,
                   ROUND(len(list_distinct(tk)) / nt, 6) AS ttr,
                   ROUND(ln(nt), 6) AS ll
            FROM b),
      sc AS (SELECT doc_id,
                    ROUND(1.0 / (1.0 + exp(-(sel.b0 + f.sr * sel.b1
                      + f.ttr * sel.b2 + f.ll * sel.b3))), 6) AS p_keep
             FROM f CROSS JOIN sel)
      SELECT doc_id, p_keep, ROUND(ABS(p_keep - 0.5), 6) AS margin
      FROM sc ORDER BY margin, doc_id LIMIT 40"""))

  val all: Seq[QueryDef] = Seq(tQualityClassifier, tCalibration, tAnnotationBatch)
}
