package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}
import graft.functions.TextFns

/** Data Selection via Importance Resampling (DSIR-style): score every
  * raw document by how much its hashed n-gram feature distribution looks
  * like a TARGET (in-domain) corpus rather than the raw pool, and select
  * the top quarter — the published recipe (Xie et al. 2023) for choosing
  * pre-training data that matches a downstream domain without training a
  * classifier. Reference has nothing comparable; this is part of the
  * beyond-reference curation suite ([[Curation]]).
  *
  * Exactness discipline: importance weights are the INTEGER log₂ buckets
  * `⌊log₂(1+c_target)⌋ − ⌊log₂(1+c_raw)⌋` per hashed feature, computed as
  * `length(bin(1+c))` differences — the [[TextAnalysis.lmBucketScore]]
  * idiom: no libm, no floats, so per-doc sums are order-independent
  * BIGINTs and the DuckDB twin hash-matches bit-for-bit. The dropped
  * `log₂ N_target − log₂ N_raw` constant shifts every token's weight
  * equally, so per-token scores shift uniformly and the RANKING — the
  * thing selection consumes — is unchanged. The per-token score is
  * `floor(1000·sum / n_tokens)` evaluated in double: both operands are
  * exact integers ≪ 2⁵³ and a non-integer rational with denominator
  * n_tokens sits ≥ 1/n_tokens from any integer — far beyond an ulp — so
  * the floor is exact and identical in both engines.
  *
  * Scale shape (100 TB): the feature space is HASHED to [[Buckets]]
  * buckets precisely so the two count tables and the weight table are
  * bounded control-plane-sized regardless of corpus vocabulary — the
  * weight join is a broadcast of ≤512 rows, the token stream never
  * shuffles on anything wider than doc_id, and both count passes are
  * partial-aggregate-friendly (bounded distinct keys per partition).
  * Selection uses [[Scale.globalRank]] (distributed range partition +
  * per-partition offsets), not a single-partition global window. */
object Dsir {

  val Buckets = 512

  /** Per-bucket integer importance weights from a target predicate. */
  private[graft] def bucketWeights(tokens: DataFrame): DataFrame = {
    val raw = tokens.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgt = tokens.filter(col("is_target"))
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    raw.join(tgt, Seq("b"), "left")
      .select(col("b"),
        (length(bin(lit(1) + coalesce(col("ct"), lit(0L)))) -
          length(bin(lit(1) + col("cr")))).cast("long").as("wgt"))
  }

  /** Scored + top-quarter-selected docs; `targetSource` plays the
    * in-domain exemplar corpus. */
  def dsirSelect(docs: DataFrame, targetSource: String): DataFrame = {
    val tokens = docs
      .select(col("doc_id"), col("source"),
        explode(TextFns.words(col("text"))).as("term"))
      .select(col("doc_id"), col("source"),
        (TextFns.md5u56(col("term")) % Buckets).as("b"),
        (col("source") === targetSource).as("is_target"))
    Settle.using(tokens)(Settle.shared {
      // materialized once: the (lazy, since r17) rank scans its input
      // several times, and re-running this doc-grain aggregate shuffle
      // per scan would dominate; nd rides the rank's control plane
      // instead of a separate count pass
      val scored = Settle.shared(
        tokens.join(broadcast(bucketWeights(tokens)), Seq("b"))
          .groupBy(col("doc_id"), col("source"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("wgt")).as("dsir_sum"))
          .withColumn("dsir_mil",
            floor((lit(1000) * col("dsir_sum")).cast("double") / col("n_tokens"))
              .cast("long")))
      val (ranked, nd) = Scale.globalRankWithTotal(scored,
        Seq(col("dsir_mil").desc, col("doc_id")), "rnk", 32)
      ranked
        .withColumn("selected", col("rnk") <= lit((nd + 3) / 4))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("dsir_sum"), col("dsir_mil"), col("selected"))
    })
  }

  def qDsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirSelect(Tables.documents(spark, dir), "src0").orderBy(col("doc_id"))

  /** Twin: identical hash, buckets, integer weights, and selection
    * arithmetic; the global rank is a plain window (the oracle runs at
    * oracle scale). */
  def oDsirSelect: String = {
    val h = TextFns.md5u56Sql("term")
    raw"""WITH w AS (
      |  SELECT doc_id, source,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |f AS (SELECT doc_id, source, ($h) % ${Buckets} AS b FROM w),
      |raw AS (SELECT b, count(*) AS cr FROM f GROUP BY 1),
      |tgt AS (SELECT b, count(*) AS ct FROM f WHERE source = 'src0' GROUP BY 1),
      |wt AS (
      |  SELECT raw.b,
      |    CAST(length(format('{:b}', 1 + coalesce(ct, 0))) -
      |         length(format('{:b}', 1 + cr)) AS BIGINT) AS wgt
      |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
      |s AS (
      |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
      |         CAST(sum(wgt) AS BIGINT) AS dsir_sum
      |  FROM f JOIN wt USING (b) GROUP BY doc_id, source),
      |m AS (
      |  SELECT *, CAST(floor(CAST(1000 * dsir_sum AS DOUBLE) / n_tokens)
      |    AS BIGINT) AS dsir_mil FROM s),
      |n AS (SELECT count(*) AS nd FROM m),
      |r AS (SELECT m.*, nd,
      |        row_number() OVER (ORDER BY dsir_mil DESC, doc_id) AS rnk
      |      FROM m, n)
      |SELECT doc_id, source, n_tokens, dsir_sum, dsir_mil,
      |  rnk <= (nd + 3) // 4 AS selected
      |FROM r ORDER BY doc_id""".stripMargin
  }
}
