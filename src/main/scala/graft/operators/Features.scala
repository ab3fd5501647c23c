package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Settle, Tables}
import graft.functions.TextFns

/** Feature hashing (the "hashing trick") — fixed-width TF-IDF document
  * features with no vocabulary table: every term maps to one of
  * [[Buckets]] feature slots via the cross-engine md5-derived hash, so
  * the feature space is bounded and OOV-free regardless of corpus size
  * (the property that makes the trick the standard for streaming /
  * multi-TB featurization, where a vocab dictionary would itself be a
  * scaling problem).
  *
  * Exactness: tf and df are integer counts; the idf surrogate is the
  * integer `⌊N·IdfScale / df⌋` (the division-based idf precedent from
  * TextAnalysis.topTerms — monotone in ln(N/df), so top-slot ranking is
  * preserved while staying libm-free), making every output column
  * hash-exact across engines.
  *
  * Scale shape: one explode shuffle ∝ total tokens for tf (map-side
  * partial agg collapses repeats first), a ≤[[Buckets]]-row df/N
  * control-plane aggregate broadcast back, one per-doc window for the
  * top slots. No vocabulary join, no collect.
  */
object Features {

  /** Feature width. Real deployments use 2^18+; 64 keeps the fixture's
    * df table readable while exercising the identical plan. */
  val Buckets = 64

  /** Integer idf surrogate scale: idf = ⌊N·1000 / df⌋. */
  val IdfScale = 1000L

  /** Slots reported per document. */
  val TopSlots = 3

  /** Per-doc top-[[TopSlots]] hashed TF-IDF slots. */
  def hashedTfIdf(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(TextFns.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("doc_id"),
        pmod(TextFns.md5u56(col("word")), lit(Buckets)).as("bucket"))
      .agg(count(lit(1)).as("tf"))
    // r17: the tf table feeds both the document-frequency rollup and
    // the scoring join — un-cached, the tokenize+hash+count pipeline
    // ran twice (2 of the 3 documents scans in the before plan). tf is
    // (doc_id, bucket, tf) — slim — so settle it once and tokenize once
    // (caching tf AND checkpointing the RESULT was measured 23%
    // slower here: the output is doc-grain × TopSlots and
    // its extra materialization outweighs the saved tokenize).
    val t = Settle.shared(tf)
    val df = t.groupBy(col("bucket")).agg(count(lit(1)).as("df"))
    val n1 = docs.agg(count(lit(1)).as("nn"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("weight").desc, col("bucket"))
    t.join(broadcast(df.crossJoin(n1)), Seq("bucket"))
      .withColumn("weight", expr(s"tf * ((nn * $IdfScale) div df)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopSlots)
      .select(col("doc_id"), col("rank"), col("bucket"), col("tf"),
        col("df"), col("weight"))
  }

  def qHashedTfIdf(spark: SparkSession, dir: String): DataFrame =
    hashedTfIdf(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("rank"))

  def oHashedTfIdf: String = {
    val bucket = TextFns.md5u56Sql("word") + s" % $Buckets"
    raw"""WITH w AS (
      |  SELECT doc_id,
      |         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, $bucket AS bucket, count(*) AS tf
      |  FROM w WHERE word <> '' GROUP BY doc_id, bucket),
      |df AS (SELECT bucket, count(*) AS df FROM tf GROUP BY bucket),
      |n1 AS (SELECT count(*) AS nn FROM documents),
      |scored AS (
      |  SELECT doc_id, bucket, tf, df, tf * ((nn * $IdfScale) // df) AS weight
      |  FROM tf JOIN df USING (bucket) CROSS JOIN n1)
      |SELECT doc_id, CAST(rank AS INTEGER) AS rank, bucket, tf, df, weight
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY doc_id ORDER BY weight DESC, bucket) AS rank
      |      FROM scored)
      |WHERE rank <= $TopSlots
      |ORDER BY doc_id, rank""".stripMargin
  }
}
