package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}
import graft.functions.TextFns

/** Trained text classification — the fastText-LID-shaped curation
  * operator: a multinomial Naive Bayes model trained distributively on
  * the labelled train split, broadcast, and applied map-side to the
  * whole corpus (language ID, quality-tier routing, source attribution).
  *
  * Scale design (100 TB): training is ONE pass over the train split —
  * explode words, partial-agg counts per (label, gram) — with the model
  * capped at `maxVocab` grams by global frequency (deterministic
  * tie-break), so the collected model is bounded regardless of corpus
  * size, exactly the sampled-k-means discipline (`Pq.trainCodebooks`).
  * Prediction broadcasts the model and runs explode → broadcast-join →
  * per-doc hash-agg → one window on doc_id; shuffle carries only
  * (doc_id, label, partial integer sums).
  *
  * Determinism discipline: log-probabilities are FIXED-POINT BIGINTs
  * (`ln(p) · 10^12`, rounded once on the driver at train time), so
  * prediction is pure integer arithmetic — no libm call happens at
  * query time in either engine, and the DuckDB twin (generated after
  * training with the model inlined as literals, the trained-quantizer
  * oracle pattern) hash-matches bit-for-bit including scores and
  * margins. Ties break lexicographically by label.
  */
object Classify {

  /** Fixed-point scale: ln(p) is rounded to units of 10^-12 at train
    * time. Doc scores are sums of a few hundred such values — well
    * inside BIGINT range (|ln p| < 30 → |fixed| < 3·10^13/word). */
  val LogScale: Double = 1e12

  /** A trained model: `labels` sorted; per-label fixed-point priors
    * ln(n_l/n) and unknown-gram defaults ln(1/(tokens_l + V)); per-gram
    * per-label smoothed ln((cnt+1)/(tokens_l + V)). */
  case class NbModel(
      labels: IndexedSeq[String],
      priors: IndexedSeq[Long],
      defaults: IndexedSeq[Long],
      gramLogp: Map[String, IndexedSeq[Long]],
      vocabSize: Long) {
    require(labels.nonEmpty, "model needs at least one label")
  }

  /** One distributed counting pass + a model-sized collect. The cap
    * keeps the model broadcast-sized at any corpus scale: top `maxVocab`
    * grams by total count across labels (ties broken by gram, so the
    * trained model — and therefore the generated oracle — is stable). */
  def trainNaiveBayes(train: DataFrame, labelCol: String = "lang",
      maxVocab: Int = 50000): NbModel = {
    val words = train.select(col(labelCol).as("label"),
      explode(TextFns.words(col("text"))).as("w"))
    Settle.using(words) {
      // the vocab cap is itself distributed: per-gram totals, then a
      // TakeOrdered top-maxVocab (per-partition top-k, no global sort or
      // single-partition window), then a broadcast semi-join — the only
      // collected rows are the capped model
      val keptGrams = words.groupBy("w").count()
        .orderBy(col("count").desc, col("w")).limit(maxVocab).select("w")
      val kept = words.groupBy("label", "w").count()
        .join(broadcast(keptGrams), Seq("w"), "left_semi")
        .select("label", "w", "count").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val docCounts = train.groupBy(col(labelCol).as("label")).count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val labels = docCounts.keys.toIndexedSeq.sorted
      val nDocs = docCounts.values.sum.toDouble
      // token totals per label over the FULL split (capped grams change
      // which grams carry their own logp, not the denominators)
      val tokenTotals = words.groupBy("label").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val vocabSize = kept.map(_._2).distinct.length.toLong
      def fx(x: Double): Long = math.round(math.log(x) * LogScale)
      val priors = labels.map(l => fx(docCounts(l) / nDocs))
      val defaults = labels.map(l =>
        fx(1.0 / (tokenTotals.getOrElse(l, 0L) + vocabSize)))
      val byGram = kept.groupBy(_._2).map { case (g, rows) =>
        val perLabel = rows.map(r => (r._1, r._3)).toMap
        g -> labels.map(l =>
          fx((perLabel.getOrElse(l, 0L) + 1.0) /
            (tokenTotals.getOrElse(l, 0L) + vocabSize)))
      }
      NbModel(labels, priors, defaults, byGram, vocabSize)
    }
  }

  /** Broadcast-model prediction: one explode, one broadcast join, one
    * per-doc integer aggregation, one window. Emits the winning label
    * plus its fixed-point score and the margin to the runner-up (0 when
    * there is no runner-up) — integers, so the gate is exact. */
  def predict(docs: DataFrame, model: NbModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val L = model.labels.size
    val langDim = (0 until L).map(i =>
      (i, model.labels(i), model.priors(i), model.defaults(i)))
      .toDF("lidx", "label", "prior", "dflt")
    val modelDf = model.gramLogp.toSeq.flatMap { case (g, lps) =>
      lps.zipWithIndex.map { case (lp, i) => (g, i, lp) }
    }.toDF("w", "lidx", "logp")
    val words = docs.select(col("doc_id"),
      explode(TextFns.words(col("text"))).as("w"))
    val scored = words
      .crossJoin(broadcast(langDim))
      .join(broadcast(modelDf), Seq("w", "lidx"), "left")
      .select(col("doc_id"), col("label"), col("prior"),
        coalesce(col("logp"), col("dflt")).as("lp"))
    val sums = scored.groupBy("doc_id", "label", "prior")
      .agg(sum("lp").as("s"))
      .select(col("doc_id"), col("label"), (col("prior") + col("s")).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("label"))
    sums
      .withColumn("rnk", row_number().over(w))
      .withColumn("margin",
        coalesce(col("score") - lead("score", 1).over(w), lit(0L)))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("label").as("pred_lang"),
        col("score"), col("margin"))
  }

  /** Map-only prediction: the model rides as LITERAL map/array
    * expressions (vocab → fixed-point log-prob per label) and each row
    * classifies itself in a single projection — no join, no aggregation,
    * NO shuffle. This is the serving/streaming shape: stateless, so it
    * drops into a streaming select unchanged, and at 100 TB the scan is
    * the only cost. The HOF fold runs interpreted per token (unlike the
    * relational [[predict]], whose joins/aggs are codegen'd), so bulk
    * backfills should prefer [[predict]]; results are identical
    * (integer arithmetic, spec-pinned equal). */
  def predictCols(model: NbModel): Seq[org.apache.spark.sql.Column] = {
    val L = model.labels.size
    val grams = model.gramLogp.keys.toSeq.sorted
    val ws = TextFns.words(col("text"))
    val scores = (0 until L).map { i =>
      val m = map_from_arrays(
        typedLit(grams), typedLit(grams.map(g => model.gramLogp(g)(i))))
      aggregate(ws, lit(model.priors(i)),
        (acc, w) => acc + coalesce(element_at(m, w), lit(model.defaults(i))))
    }
    // argmax with the smallest-label tie-break: max over (score, L-1-i)
    // structs — ties on score pick the larger reversed index = the
    // lexicographically smaller label
    val cands = array((0 until L).map(i =>
      struct(scores(i).as("score"), lit(L - 1 - i).as("ri"))): _*)
    val best = array_max(cands)
    val ranked = sort_array(cands, asc = false)
    val margin =
      if (L == 1) lit(0L)
      else (element_at(ranked, 1).getField("score") -
        element_at(ranked, 2).getField("score"))
    Seq(
      element_at(typedLit(model.labels.toSeq), lit(L) - best.getField("ri"))
        .as("pred_lang"),
      best.getField("score").as("score"),
      margin.as("margin"))
  }

  /** Stateless streaming/batch admission gate: keep only docs the model
    * assigns to `keep` with at least `minMargin` confidence. Being one
    * projection + filter, it composes into any streaming query with no
    * state and no output-mode constraints. */
  def classifyAdmit(docs: DataFrame, model: NbModel, keep: Set[String],
      minMargin: Long = 0L): DataFrame = {
    val cols = predictCols(model)
    docs.withColumns(Map(
        "pred_lang" -> cols(0), "score" -> cols(1), "margin" -> cols(2)))
      .filter(col("pred_lang").isin(keep.toSeq: _*) &&
        col("margin") >= minMargin)
  }

  /** Models per dataset dir (training is deterministic; caching only
    * skips recomputation — the Pq.codebooks discipline). */
  private val models =
    new java.util.concurrent.ConcurrentHashMap[String, NbModel]()

  private[graft] def modelFor(spark: SparkSession, dir: String): NbModel =
    models.computeIfAbsent(dir, { d =>
      val split = TextAnalysis.withSplit(Tables.documents(spark, d))
      trainNaiveBayes(split.filter(col("split") === "train"))
    })

  /** Train on the deterministic train split, predict the whole corpus. */
  def qClassifyLang(spark: SparkSession, dir: String): DataFrame =
    predict(Tables.documents(spark, dir), modelFor(spark, dir))
      .orderBy("doc_id")

  /** The single trained model this JVM has seen, if unambiguous — the
    * cache-to-oracle bridge (`Pq.cachedCodebooks`). */
  def cachedModel: Option[NbModel] =
    if (models.size == 1) Some(models.values.iterator.next) else None

  /** Generated after training: the fixed-point model inlined as VALUES
    * literals. Both engines then do identical integer arithmetic — the
    * smoothing/log math happened exactly once, on the driver. */
  def oracleEntries: Map[String, String] =
    cachedModel.map(m => Map(
      "classify_lang_nb" -> oClassifyLang(m),
      "classify_confusion" -> oClassifyConfusion(m),
      "classify_cohens_kappa" -> oClassifyKappa(m),
      "classify_calibration" -> oClassifyCalibration(m)))
      .getOrElse(Map.empty)

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Shared prediction CTE prefix of the generated twins. */
  private def predictionCtes(m: NbModel): String = {
    val langRows = m.labels.indices.map(i =>
      s"(${i}, ${sqlStr(m.labels(i))}, ${m.priors(i)}, ${m.defaults(i)})")
      .mkString(", ")
    val modelRows = m.gramLogp.toSeq.sortBy(_._1).flatMap { case (g, lps) =>
      lps.zipWithIndex.map { case (lp, i) => s"(${sqlStr(g)}, $i, $lp)" }
    }.mkString(", ")
    s"""WITH langs(lidx, label, prior, dflt) AS (VALUES $langRows),
       |model(w, lidx, logp) AS (VALUES $modelRows),
       |wrd AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
       |  FROM documents),
       |scored AS (
       |  SELECT d.doc_id, l.label, l.prior, COALESCE(mo.logp, l.dflt) AS lp
       |  FROM wrd d CROSS JOIN langs l
       |  LEFT JOIN model mo ON mo.w = d.w AND mo.lidx = l.lidx),
       |sums AS (
       |  SELECT doc_id, label, CAST(prior + SUM(lp) AS BIGINT) AS score
       |  FROM scored GROUP BY doc_id, label, prior),
       |ranked AS (
       |  SELECT doc_id, label, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rnk,
       |    CAST(COALESCE(score - lead(score) OVER (
       |      PARTITION BY doc_id ORDER BY score DESC, label), 0) AS BIGINT) AS margin
       |  FROM sums)""".stripMargin
  }

  private[graft] def oClassifyLang(m: NbModel): String =
    s"""${predictionCtes(m)}
       |SELECT doc_id, label AS pred_lang, score, margin
       |FROM ranked WHERE rnk = 1 ORDER BY doc_id""".stripMargin

  private[graft] def oClassifyConfusion(m: NbModel): String =
    s"""${predictionCtes(m)},
       |conf AS (
       |  SELECT d2.lang, r.label AS pred_lang, count(*) AS n
       |  FROM ranked r JOIN documents d2 USING (doc_id)
       |  WHERE r.rnk = 1 GROUP BY 1, 2),
       |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_actual
       |      FROM conf GROUP BY lang)
       |SELECT c.lang, c.pred_lang, CAST(c.n AS BIGINT) AS n, t.n_actual,
       |  CAST(floor(c.n * 1000 / t.n_actual) AS BIGINT) AS recall_milli
       |FROM conf c JOIN t USING (lang)
       |ORDER BY lang, pred_lang""".stripMargin

  /** Confusion matrix of the trained classifier against the labeled
    * lang column — the model-quality report next to the prediction
    * table: per (actual, predicted) cell counts and the diagonal's
    * exact recall surrogate. One broadcast-model prediction pass + a
    * \|langs\|²-bounded aggregate. */
  def confusionMatrix(docs: DataFrame, model: NbModel): DataFrame = {
    val conf = predict(docs, model)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val totals = conf.groupBy(col("lang")).agg(sum(col("n")).as("n_actual"))
    conf.join(broadcast(totals), Seq("lang"))
      .withColumn("recall_milli",
        floor(col("n") * lit(1000L) / col("n_actual")).cast("long"))
      .select(col("lang"), col("pred_lang"), col("n"), col("n_actual"),
        col("recall_milli"))
  }

  def qClassifyConfusion(spark: SparkSession, dir: String): DataFrame =
    confusionMatrix(Tables.documents(spark, dir), modelFor(spark, dir))
      .orderBy(col("lang"), col("pred_lang"))

  // ------------------------------------------------------ Cohen's kappa

  /** Chance-corrected agreement between the classifier and the labels —
    * the one-number model-quality summary accuracy overstates when
    * classes are imbalanced (a majority-class guesser scores high
    * accuracy but κ ≈ 0). Exact integer rational: with N = Σ cells,
    * D = Σ diagonal, E = Σ_l rowTotal(l)·colTotal(l),
    * κ = (N·D − E) / (N² − E); `kappa_milli` = ⌊1000·κ⌋ as an EXACT
    * integer division in DECIMAL(38)/HUGEINT (the sibling [[Ks.mwu]]
    * path — a double floor drifts off-by-one once 1000·N² passes 2⁵³,
    * ~3M docs). Negative κ is floored through an explicit
    * non-negative division (−⌈·⌉ of the negated numerator), so Spark's
    * truncating `div` and DuckDB's flooring `//` cannot diverge; a
    * single-class corpus (kappa_den = 0: κ undefined) yields NULL in
    * BOTH engines rather than a Spark-NULL/DuckDB-error split.
    * Everything after the prediction pass is |langs|²-bounded. */
  def cohensKappa(docs: DataFrame, model: NbModel): DataFrame = {
    val conf = predict(docs, model)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    Settle.using(conf)(Settle.shared {
      val tot = conf.agg(sum(col("n")).as("n_total"))
      val diag = conf.filter(col("lang") === col("pred_lang"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_agree"))
      val e = conf.groupBy(col("lang")).agg(sum(col("n")).as("r"))
        .join(conf.groupBy(col("pred_lang").as("lang"))
          .agg(sum(col("n")).as("cc")), Seq("lang"))
        .agg(sum(col("r") * col("cc")).as("e_num"))
      tot.crossJoin(broadcast(diag)).crossJoin(broadcast(e))
        .select(col("n_total"), col("n_agree"), col("e_num"),
          (col("n_total") * col("n_agree") - col("e_num")).as("kappa_num"),
          (col("n_total") * col("n_total") - col("e_num")).as("kappa_den"))
        .withColumn("kappa_milli", expr(
          """CASE WHEN kappa_den = 0 THEN CAST(NULL AS BIGINT)
            |WHEN kappa_num >= 0 THEN CAST(
            |  (CAST(kappa_num AS DECIMAL(38,0)) * 1000)
            |    div CAST(kappa_den AS DECIMAL(38,0)) AS BIGINT)
            |ELSE -CAST(
            |  (CAST(-kappa_num AS DECIMAL(38,0)) * 1000 + kappa_den - 1)
            |    div CAST(kappa_den AS DECIMAL(38,0)) AS BIGINT)
            |END""".stripMargin))
    })
  }

  def qClassifyKappa(spark: SparkSession, dir: String): DataFrame =
    cohensKappa(Tables.documents(spark, dir), modelFor(spark, dir))

  // ------------------------------------------------- calibration bins

  /** Reliability table: does a larger decision margin actually mean a
    * more reliable prediction? Rank every prediction by (margin,
    * doc_id), cut into 10 equal-depth bins, and report per-bin
    * accuracy — the monotonicity (or not) of this table is what decides
    * whether `margin` can gate auto-accept thresholds downstream.
    * Exact: bin = (rank−1)·10 div n on the distributed
    * [[Scale.globalRank]] (no single-task global sort at corpus
    * scale); accuracy in exact milli (counts ≪ 2⁵³). */
  def calibration(docs: DataFrame, model: NbModel): DataFrame = {
    val scored = predict(docs, model)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("margin"),
        when(col("pred_lang") === col("lang"), 1L).otherwise(0L).as("ok"))
    Settle.using(scored)(Settle.shared {
      // denominator = SCORED rows, matching the twin's `sc` CTE — a doc
      // the prediction pass drops (e.g. null text) must not shift the
      // bin boundaries (review r15 finding)
      val n = scored.count()
      // plain if/else, NOT a non-local return: a `return` inside this
      // block would throw NonLocalReturnControl past Settle.shared's
      // localCheckpoint (deprecated in 2.13, gone in Scala 3)
      if (n == 0L)
        scored.select(lit(0L).as("bin"), lit(0L).as("n_docs"),
          lit(0L).as("n_correct"), lit(0L).as("acc_milli")).limit(0)
      else
        Scale.globalRankWithTotal(scored, Seq(col("margin"), col("doc_id")),
          "rnk", 32, knownTotal = n)._1
          .withColumn("bin", expr(s"((rnk - 1) * 10) div ${n}L"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_correct"))
          .withColumn("acc_milli", expr("(1000 * n_correct) div n_docs"))
    })
  }

  def qClassifyCalibration(spark: SparkSession, dir: String): DataFrame =
    calibration(Tables.documents(spark, dir), modelFor(spark, dir))
      .orderBy(col("bin"))

  private[graft] def oClassifyCalibration(m: NbModel): String =
    s"""${predictionCtes(m)},
       |sc AS (
       |  SELECT r.doc_id, r.margin,
       |    CASE WHEN r.label = d2.lang THEN 1 ELSE 0 END AS ok
       |  FROM ranked r JOIN documents d2 USING (doc_id) WHERE r.rnk = 1),
       |n AS (SELECT count(*) AS nd FROM sc),
       |g AS (
       |  SELECT ok, ((row_number() OVER (ORDER BY margin, doc_id) - 1) * 10)
       |    // nd AS bin
       |  FROM sc, n)
       |SELECT CAST(bin AS BIGINT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ok) AS BIGINT) AS n_correct,
       |  CAST((1000 * sum(ok)) // count(*) AS BIGINT) AS acc_milli
       |FROM g GROUP BY bin ORDER BY bin""".stripMargin

  private[graft] def oClassifyKappa(m: NbModel): String =
    s"""${predictionCtes(m)},
       |conf AS (
       |  SELECT d2.lang, r.label AS pred_lang, count(*) AS n
       |  FROM ranked r JOIN documents d2 USING (doc_id)
       |  WHERE r.rnk = 1 GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM conf),
       |diag AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_agree
       |         FROM conf WHERE lang = pred_lang),
       |e AS (
       |  SELECT CAST(sum(r * cc) AS BIGINT) AS e_num FROM
       |    (SELECT lang, sum(n) AS r FROM conf GROUP BY 1) rt JOIN
       |    (SELECT pred_lang AS lang, sum(n) AS cc FROM conf GROUP BY 1) ct
       |    USING (lang)),
       |k AS (
       |  SELECT n_total, n_agree, e_num,
       |    CAST(n_total * n_agree - e_num AS BIGINT) AS kappa_num,
       |    CAST(n_total * n_total - e_num AS BIGINT) AS kappa_den
       |  FROM tot, diag, e)
       |SELECT n_total, n_agree, e_num, kappa_num, kappa_den,
       |  CASE WHEN kappa_den = 0 THEN CAST(NULL AS BIGINT)
       |    WHEN kappa_num >= 0 THEN CAST(
       |      (CAST(kappa_num AS HUGEINT) * 1000) // kappa_den AS BIGINT)
       |    ELSE -CAST(
       |      (CAST(-kappa_num AS HUGEINT) * 1000 + kappa_den - 1)
       |        // kappa_den AS BIGINT)
       |  END AS kappa_milli
       |FROM k""".stripMargin
}
