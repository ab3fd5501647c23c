package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}

/** Item-to-item co-occurrence similarity — the "customers also bought"
  * recommender primitive over order baskets, complementing
  * [[Mining.assocRules]] (directional confidence/lift at event grain)
  * with a SYMMETRIC ranked neighbor table at item grain.
  *
  * Similarity is cosine over co-purchase incidence,
  * c(a,b)/√(c(a)·c(b)), ranked by its exact integer square
  * ⌊1000·c(a,b)²/(c(a)·c(b))⌋ — squaring is monotone on non-negatives,
  * so the ranking is cosine's ranking with NO sqrt or float anywhere
  * (the ⌊·1000⌋ surrogate discipline); the floor's double division is
  * exact below 2⁵³ by the 1/denominator-gap argument.
  *
  * Scale shape (100 TB): baskets dedup to DISTINCT (order, part) first
  * — co-occurrence fan-out is then ≤ items²-per-order (a small
  * constant, ~21 at 7 items), never order-volume-squared; part counts
  * are a broadcast dimension table; top-k per item is a part-keyed
  * window (group partitioning bounds tasks — no global sort). A
  * viral item appearing in every basket would make its pair row hot:
  * the groupBy key is the PAIR, so partial aggregation absorbs it
  * map-side (the A1 hash-agg argument, not a skew join). */
object Reco {

  val MinCo = 2
  val K = 5

  def itemSimilarity(lineitem: DataFrame, minCo: Int = MinCo, k: Int = K): DataFrame = {
    val items = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))
      .distinct()
    val counts = items.groupBy(col("part")).agg(count(lit(1)).as("n"))
    // r17: `items` feeds FOUR legs (both sides of the self-join and,
    // through `counts`, both broadcast count dims) and `counts` feeds
    // two — un-cached, the planner re-ran the full scan + distinct for
    // every leg (4 parquet scans / 4 distinct aggregates in the before
    // plan). Persisting both slim frames makes it one scan + one
    // distinct + one count aggregate; at 100 TB `items` is basket-grain
    // (≤ rows) and `counts` item-grain (≪ rows), both MEMORY_AND_DISK
    // so an overflow spills instead of OOMing.
    Settle.using(items, counts)(Settle.shared {
      // r18: one grouped shuffle by basket + in-basket ordered pairs
      // (both orientations, a ≠ b) replaces the self-join's two
      // exchanges of the incidence table; baskets are items-per-order
      // bounded, so the per-order array is a handful of longs
      val co = items.groupBy(col("ok"))
        .agg(collect_list(col("part")).as("ps"))
        .filter(size(col("ps")) > 1)
        .select(explode(col("ps")).as("part"), col("ps"))
        .select(col("part"), explode(col("ps")).as("other"))
        .filter(col("part") =!= col("other"))
        .groupBy(col("part"), col("other"))
        .agg(count(lit(1)).as("n_co"))
        .filter(col("n_co") >= minCo)
      val w = Window.partitionBy(col("part"))
        .orderBy(col("cos2_milli").desc, col("n_co").desc, col("other"))
      co
        .join(broadcast(counts.select(col("part"), col("n").as("n_a"))), Seq("part"))
        .join(broadcast(counts.select(col("part").as("other"), col("n").as("n_b"))),
          Seq("other"))
        .withColumn("cos2_milli",
          floor(col("n_co") * col("n_co") * lit(1000L) / (col("n_a") * col("n_b")))
            .cast("long"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("part"), col("other"), col("n_co"), col("n_a"), col("n_b"),
          col("cos2_milli"), col("rnk"))
    })
  }

  def qItemSimilarity(spark: SparkSession, dir: String): DataFrame =
    itemSimilarity(Tables.lineitem(spark, dir))
      .orderBy(col("part"), col("rnk"))

  def oItemSimilarity: String =
    s"""WITH i AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM lineitem),
      |c AS (SELECT part, CAST(count(*) AS BIGINT) AS n FROM i GROUP BY 1),
      |co AS (
      |  SELECT a.part AS part, b.part AS other, CAST(count(*) AS BIGINT) AS n_co
      |  FROM i a JOIN i b ON a.ok = b.ok AND a.part != b.part
      |  GROUP BY 1, 2 HAVING count(*) >= $MinCo),
      |s AS (
      |  SELECT co.part, co.other, co.n_co, ca.n AS n_a, cb.n AS n_b,
      |    CAST(floor(co.n_co * co.n_co * 1000 / (ca.n * cb.n)) AS BIGINT)
      |      AS cos2_milli
      |  FROM co JOIN c ca ON ca.part = co.part
      |  JOIN c cb ON cb.part = co.other)
      |SELECT part, other, n_co, n_a, n_b, cos2_milli,
      |  CAST(rnk AS INTEGER) AS rnk
      |FROM (SELECT *, row_number() OVER (PARTITION BY part
      |        ORDER BY cos2_milli DESC, n_co DESC, other) AS rnk FROM s)
      |WHERE rnk <= $K ORDER BY part, rnk""".stripMargin
}
