package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}
import graft.functions.TextFns

/** Incremental (cross-snapshot) deduplication: admit a NEW batch of
  * documents against an EXISTING deduplicated corpus. This is the shape a
  * production pipeline actually runs daily — the corpus is settled and
  * huge, the batch is small, and re-deduplicating the union from scratch
  * would reshuffle 100 TB to admit a few GB.
  *
  * A batch doc is rejected as `exact_dup` when its content digest already
  * exists in the corpus, `near_dup` when its shingle Jaccard with any
  * corpus doc reaches the threshold, else `kept`. Exact wins when both
  * apply (a digest match IS Jaccard 1.0).
  *
  * Scale shape: the digest probe is a join against the corpus digest
  * index on the 128-bit key — at scale that index is a bucketed/sorted
  * table so the probe is a zero-exchange merge join (Scale.bucketedJoin
  * precedent). The near-dup leg generates candidates via MinHash band
  * keys joined BATCH × CORPUS (never corpus × corpus): band signatures
  * for the corpus are computed once at ingest and persisted, so each
  * load shuffles only the batch's bands plus the colliding corpus docs'
  * shingle sets for verification. Work tracks the batch size and the
  * collision count, not the corpus.
  *
  * Recall: identical to [[Dedup.minhashLshPairs]] (16 bands × 4 rows,
  * ≈1−2e-4 worst case at 0.8) — the batch×corpus pairs are a subset of
  * the union corpus's pairs, and signatures depend only on each doc's own
  * shingles, so per-side computation changes nothing.
  */
object IncrementalDedup {

  /** MinHash band keys (band, bh) per doc — same scheme as
    * [[Dedup.minhashLshPairs]] so recall properties carry over. */
  private def bandKeys(sh: DataFrame): DataFrame = {
    val ex = sh.select(col("doc_id"), explode_outer(col("shingles")).as("sh"))
    val aggs = (0 until Dedup.MinhashFuncs).map(i => min(hash(col("sh"), lit(i))).as(s"h$i"))
    val sigs = ex.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val bandCols = (0 until Dedup.Bands).map { b =>
      val rows = (0 until Dedup.RowsPerBand).map(r => col(s"h${b * Dedup.RowsPerBand + r}"))
      struct(lit(b).as("band"), hash(rows: _*).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** (doc_id, status) for every batch doc: exact_dup / near_dup / kept. */
  def incrementalDedup(existing: DataFrame, batch: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val exSh = Dedup.shingled(existing)
    val bSh = Dedup.shingled(batch)
    Settle.using(exSh, bSh)(Settle.shared {
      val exactHit = batch
        .select(col("doc_id"), md5(col("text")).as("digest"))
        .join(existing.select(md5(col("text")).as("digest")).distinct(),
          Seq("digest"), "left_semi")
        .select(col("doc_id"))
      val cands = bandKeys(bSh)
        .join(bandKeys(exSh)
          .select(col("doc_id").as("ex_doc"), col("band"), col("bh")),
          Seq("band", "bh"))
        .select(col("doc_id"), col("ex_doc")).distinct()
      val nearHit = cands
        .join(bSh.select(col("doc_id"), col("shingles").as("sh_b"), col("n_sh").as("n_b")),
          Seq("doc_id"))
        .join(exSh.select(col("doc_id").as("ex_doc"), col("shingles").as("sh_e"),
          col("n_sh").as("n_e")), Seq("ex_doc"))
        .withColumn("inter", size(array_intersect(col("sh_b"), col("sh_e"))))
        .filter(col("inter") / (col("n_b") + col("n_e") - col("inter")) >= threshold)
        .select(col("doc_id")).distinct()
      batch.select(col("doc_id"))
        .join(exactHit.withColumn("is_exact", lit(true)), Seq("doc_id"), "left")
        .join(nearHit.withColumn("is_near", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_exact"), "exact_dup")
            .when(col("is_near"), "near_dup")
            .otherwise("kept").as("status"))
    })
  }

  /** Query instance: existing corpus = the deterministic train split,
    * incoming batch = the val/test remainder (TextAnalysis.withSplit's
    * RNG-free doc-id buckets, so both engines agree on the partition). */
  def qIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val tagged = TextAnalysis.withSplit(Tables.documents(spark, dir))
    incrementalDedup(
      tagged.filter(col("split") === "train"),
      tagged.filter(col("split") =!= "train"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: brute-force batch × existing (fine at oracle scale; the
    * Spark side stays candidate-generated). */
  def oIncrementalDedup: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    raw"""WITH s AS (
      |  SELECT doc_id, text, $h % 100 < 80 AS is_train,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, text, is_train, CASE WHEN len(ws) >= 3
      |    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
      |    ELSE [array_to_string(ws, ' ')] END AS shingles FROM s),
      |b AS (SELECT * FROM sh WHERE NOT is_train),
      |ex AS (SELECT * FROM sh WHERE is_train),
      |exact AS (
      |  SELECT DISTINCT b.doc_id FROM b JOIN ex ON md5(ex.text) = md5(b.text)),
      |near AS (
      |  SELECT DISTINCT b.doc_id FROM b JOIN ex
      |    ON len(list_intersect(ex.shingles, b.shingles))
      |         / (len(ex.shingles) + len(b.shingles)
      |            - len(list_intersect(ex.shingles, b.shingles))) >= 0.8)
      |SELECT doc_id,
      |  CASE WHEN doc_id IN (SELECT doc_id FROM exact) THEN 'exact_dup'
      |       WHEN doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
      |       ELSE 'kept' END AS status
      |FROM b ORDER BY doc_id""".stripMargin
  }
}
