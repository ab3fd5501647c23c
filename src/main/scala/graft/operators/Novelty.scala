package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}

/** Per-document novelty against the settled (train) corpus: the share of
  * a document's 3-gram shingles never seen in ANY train-split document,
  * in basis points.
  *
  * Where it sits in the dedup/selection family:
  * [[TextAnalysis.contamination]] answers the pair question ("which
  * train docs leak into test"); novelty answers the per-doc SELECTION
  * question a curation loop asks of incoming data — "how much of this
  * document is new material?" — the signal for novelty-weighted
  * sampling, dedup-adjacent admission, and freshness dashboards. A doc
  * can be 0-contaminated yet 0-novel (all shingles are corpus
  * commonplace spread across many train docs); the two metrics are not
  * derivable from each other.
  *
  * Exactness: shingle membership is exact (anti-join, no sketch);
  * the score is integer basis points ⌊novel·10000 / n_sh⌋.
  *
  * Scale shape (100 TB): ONE equi-join class — the incoming docs'
  * exploded shingles LEFT-ANTI the train shingle VOCABULARY (distinct
  * shingles, not occurrences: the vocabulary is the small, mergeable
  * side and bucketizes by shingle at scale — the
  * [[IncrementalDedup]] settled-index discipline); then a per-doc
  * count. Work ∝ incoming batch's shingle volume; the train corpus
  * contributes only its distinct-shingle index, built once per refresh.
  */
object Novelty {

  def noveltyVsTrain(docs: DataFrame): DataFrame = {
    val tagged = TextAnalysis.withSplit(docs)
    // r17: the shingled+split frame feeds THREE legs (train vocab,
    // incoming explode, and the 0-novelty restore join) — un-cached,
    // the tokenize+shingle pipeline ran three times (6 documents scans
    // in the before plan). One cached pass, same discipline as
    // shingleJaccardPairs.
    val sh = Dedup.shingled(tagged.select(col("doc_id"), col("text")))
      .join(tagged.select(col("doc_id"), col("split")), Seq("doc_id"))
    Settle.using(sh)(Settle.shared {
    val trainVocab = sh.filter(col("split") === "train")
      .select(explode_outer(col("shingles")).as("sh"))
      .filter(col("sh").isNotNull).distinct()
    val incoming = sh.filter(col("split") =!= "train")
      .select(col("doc_id"), col("split"), col("n_sh"),
        explode_outer(col("shingles")).as("sh"))
      .filter(col("sh").isNotNull)
    incoming.join(trainVocab, Seq("sh"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("novel_shingles"),
        first(col("split")).as("split"), first(col("n_sh")).as("n_sh"))
      // docs whose every shingle is known drop out of the anti-join —
      // restore them with novelty 0 (a 0-novel doc is the loudest signal)
      .join(sh.filter(col("split") =!= "train")
        .select(col("doc_id"), col("split"), col("n_sh")),
        Seq("doc_id", "split", "n_sh"), "right")
      .withColumn("novel_shingles", coalesce(col("novel_shingles"), lit(0L)))
      .withColumn("novelty_bp",
        expr("(novel_shingles * 10000) div n_sh"))
      .select(col("doc_id"), col("split"), col("n_sh").cast("long").as("n_sh"),
        col("novel_shingles"), col("novelty_bp"))
    })
  }

  def qNoveltyVsTrain(spark: SparkSession, dir: String): DataFrame =
    noveltyVsTrain(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  def oNoveltyVsTrain: String = {
    val h = graft.functions.TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    raw"""WITH s AS (
      |  SELECT doc_id, CASE WHEN $h % 100 < 80 THEN 'train'
      |                      WHEN $h % 100 < 90 THEN 'val'
      |                      ELSE 'test' END AS split, text
      |  FROM documents),
      |w AS (SELECT doc_id, split, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM s),
      |shx AS (
      |  SELECT doc_id, split, CASE WHEN len(ws) >= 3
      |    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
      |    ELSE [array_to_string(ws, ' ')] END AS shingles
      |  FROM w),
      |vocab AS (
      |  SELECT DISTINCT unnest(shingles) AS sh FROM shx WHERE split = 'train'),
      |inc AS (
      |  SELECT doc_id, split, len(shingles) AS n_sh, unnest(shingles) AS sh
      |  FROM shx WHERE split <> 'train'),
      |novel AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS novel_shingles
      |  FROM inc WHERE sh NOT IN (SELECT sh FROM vocab)
      |  GROUP BY doc_id),
      |base AS (
      |  SELECT doc_id, split, CAST(len(shingles) AS BIGINT) AS n_sh
      |  FROM shx WHERE split <> 'train')
      |SELECT b.doc_id, b.split, b.n_sh,
      |  coalesce(novel_shingles, CAST(0 AS BIGINT)) AS novel_shingles,
      |  (coalesce(novel_shingles, CAST(0 AS BIGINT)) * 10000) // b.n_sh AS novelty_bp
      |FROM base b LEFT JOIN novel ON b.doc_id = novel.doc_id
      |ORDER BY b.doc_id""".stripMargin
  }
}
