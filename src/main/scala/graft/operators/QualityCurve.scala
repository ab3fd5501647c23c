package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}
import graft.functions.TextFns

/** Quality-threshold selection curve — the model-score analog of
  * [[DedupCurve]]: before committing to a perplexity/quality cutoff, a
  * curation run wants the WHOLE keep-curve (documents and token mass
  * retained at every candidate threshold), not one operating point.
  * The score is [[TextAnalysis.lmBucketScore]]'s trigram-commonness
  * measure as an exact integer surrogate (score_milli = 1000·Σbucket
  * div #trigrams), so the gate stays a bit-exact hash gate.
  *
  * Scale shape (the DedupCurve discipline): ONE corpus pass computes
  * per-doc scores (trigram explode → broadcast vocab-bucket join →
  * doc-keyed partial agg), the scored docs collapse into a few dozen
  * 25-milli score bands, and a single suffix-sum window over that
  * band histogram yields every threshold's keep-counts at once — no
  * per-threshold fan-out, no second corpus scan. The final window is
  * unpartitioned by construction (≤ bands rows — control-plane
  * sized). */
object QualityCurve {

  val BandMilli = 25L

  def lmScoreCurve(docs: DataFrame): DataFrame = {
    val s = lower(trim(col("text")))
    // same codegen'd trigram derivation as lmBucketScore (projection
    // slice, not a transform lambda — the interpreted form cost ~2 s)
    val tris = docs
      .select(col("doc_id"), s.as("s"))
      .select(col("doc_id"), col("s"), explode(
        when(length(col("s")) >= 3, sequence(lit(1), length(col("s")) - 2))
          .otherwise(array())).as("i"))
      .select(col("doc_id"), col("s").substr(col("i"), lit(3)).as("tri"))
    Settle.using(tris)(Settle.shared {
      val vocab = tris.groupBy(col("tri"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("tri"),
          graft.functions.TextFns.log2Floor(col("cnt")).cast("long").as("bucket"))
      val perDoc = tris.join(broadcast(vocab), Seq("tri"))
        .groupBy(col("doc_id"))
        .agg(sum(col("bucket")).as("sb"), count(lit(1)).as("nt"))
        .withColumn("score_milli", expr("sb * 1000 div nt"))
      val hist = docs
        .select(col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("tokens"))
        .join(perDoc, Seq("doc_id"))
        .withColumn("band", expr(s"score_milli div $BandMilli"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("n_tokens"))
      val wSuffix = Window.orderBy(col("band").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("docs_kept", sum(col("n_docs")).over(wSuffix))
        .withColumn("tokens_kept", sum(col("n_tokens")).over(wSuffix))
        .select(col("band"), (col("band") * BandMilli).as("threshold_milli"),
          col("n_docs"), col("n_tokens"), col("docs_kept"),
          col("tokens_kept"))
    })
  }

  def qLmScoreCurve(spark: SparkSession, dir: String): DataFrame =
    lmScoreCurve(Tables.documents(spark, dir)).orderBy(col("band"))

  /** Twin: same trigram/bucket CTEs as the lm-score oracle, integer
    * score surrogate, band histogram, suffix-sum window. */
  def oLmScoreCurve: String =
    raw"""WITH t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
      |g AS (
      |  SELECT doc_id, substr(s, CAST(i AS INTEGER), 3) AS tri
      |  FROM t, unnest(range(1, greatest(length(s) - 1, 1))) AS u(i)),
      |c AS (SELECT tri, count(*) AS cnt FROM g GROUP BY 1),
      |b AS (SELECT tri, CAST(length(format('{:b}', cnt)) - 1 AS BIGINT) AS bucket FROM c),
      |per AS (
      |  SELECT doc_id,
      |    CAST(sum(bucket) * 1000 // count(*) AS BIGINT) AS score_milli
      |  FROM g JOIN b USING (tri) GROUP BY doc_id),
      |tok AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS tokens
      |  FROM documents),
      |hist AS (
      |  SELECT score_milli // $BandMilli AS band, count(*) AS n_docs,
      |    CAST(sum(tokens) AS BIGINT) AS n_tokens
      |  FROM per JOIN tok USING (doc_id) GROUP BY 1)
      |SELECT band, band * $BandMilli AS threshold_milli, n_docs, n_tokens,
      |  CAST(sum(n_docs) OVER (ORDER BY band DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS docs_kept,
      |  CAST(sum(n_tokens) OVER (ORDER BY band DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS tokens_kept
      |FROM hist ORDER BY band""".stripMargin
}
