package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Settle, Tables}
import graft.functions.Exprs

/** The reference's Gold serving queries (sql/schema.sql:211-311) as
  * DataFrame programs over the Silver stage.
  *
  * Scale notes: latest-per-key is max_by (two-phase hash aggregate —
  * shuffle carries one candidate row per key per map task) rather than the
  * naive window sort; the windowed variant is kept for parity with the
  * DISTINCT ON view and benefits from Spark's WindowGroupLimit pushdown.
  */
object Serving {

  /** v_latest_weather (DISTINCT ON (city) ... ORDER BY timestamp DESC,
    * sql/schema.sql:211-223): newest row per key, deterministic tiebreak. */
  def latestPerKey(df: DataFrame, keys: Seq[String], order: Column): DataFrame = {
    val cols = df.columns.toIndexedSeq
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*), order).as("_last"))
      .select(cols.map(c => col(s"_last.$c").as(c)): _*)
  }

  /** Window-based variant (W1 row_number mapping, SURVEY §2.5). */
  def latestPerKeyWindowed(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    df.withColumn("_rn",
        row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("_rn") === 1).drop("_rn")

  /** v_weekly_stats (sql/schema.sql:226-239): weekly rollup of the daily
    * aggregate — avg of daily means, min/max of extremes, summed counts. */
  def weeklyStats(daily: DataFrame): DataFrame =
    daily.groupBy(col("event_type"), col("year"), col("week_of_year"))
      .agg(
        Exprs.exactAvgWide(col("avg_value")).as("avg_value"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"),
        sum(col("record_count")).as("record_count"))

  /** v_day_night_comparison (sql/schema.sql:242-252). */
  def dayNight(enriched: DataFrame): DataFrame =
    enriched.groupBy(col("event_type"), to_date(col("ts")).as("date"), col("is_day"))
      .agg(
        Exprs.exactAvg(col("value")).as("avg_value"),
        Exprs.exactAvg(col("k_factor")).as("avg_k"),
        count(lit(1)).as("record_count"))

  /** DAG quality probe: duplicate natural keys (weather_pipeline_dag.py:193-198). */
  def dupScan(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** DAG quality probe: critical-null scan (weather_pipeline_dag.py:205-210). */
  def nullScan(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("total_count"),
      count(when(col("user_id").isNull, lit(1))).as("null_user_count"),
      count(when(col("value").isNull, lit(1))).as("null_value_count"),
      count(when(col("event_type").isNull, lit(1))).as("null_event_type_count"))
      .withColumn("null_pct",
        (col("null_user_count") + col("null_value_count")) * lit(100.0)
          / col("total_count"))

  /** get_database_stats (sql/schema.sql:289-311): UNION ALL of named
    * counts across tables, plus COUNT(DISTINCT) probes. */
  def statsUnion(spark: SparkSession, dir: String): DataFrame = {
    def cnt(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("value")).select(lit(name).as("metric"), col("value"))
    val ev = Tables.events(spark, dir)
    Seq(
      cnt("events_count", ev),
      cnt("orders_count", Tables.orders(spark, dir)),
      cnt("lineitem_count", Tables.lineitem(spark, dir)),
      cnt("customer_count", Tables.customer(spark, dir)),
      cnt("documents_count", Tables.documents(spark, dir)),
      ev.agg(countDistinct(col("user_id")).as("value"))
        .select(lit("distinct_event_users").as("metric"), col("value")),
      ev.agg(countDistinct(col("event_type")).as("value"))
        .select(lit("distinct_event_types").as("metric"), col("value"))
    ).reduce(_.union(_))
  }

  // ---- query entries -------------------------------------------------

  def qLatestPerUser(spark: SparkSession, dir: String): DataFrame =
    latestPerKey(Silver.clean(Tables.events(spark, dir)),
        Seq("user_id"), struct(col("ts"), col("event_id")))
      .orderBy(col("user_id"))

  def qWeeklyStats(spark: SparkSession, dir: String): DataFrame =
    weeklyStats(Silver.dailyAgg(Silver.cleanEnriched(spark, dir)))
      .orderBy(desc("year"), desc("week_of_year"), col("event_type"))

  def qDayNight(spark: SparkSession, dir: String): DataFrame =
    dayNight(Silver.cleanEnriched(spark, dir))
      .orderBy(desc("date"), col("event_type"), col("is_day"))

  def qDupScan(spark: SparkSession, dir: String): DataFrame =
    dupScan(Tables.events(spark, dir), Seq("user_id", "ts"))
      .orderBy(col("user_id"), col("ts"))

  def qNullScan(spark: SparkSession, dir: String): DataFrame =
    nullScan(Tables.events(spark, dir))

  def qStatsUnion(spark: SparkSession, dir: String): DataFrame =
    statsUnion(spark, dir).orderBy(col("metric"))

  // ---- top-k + OTHER rollup ------------------------------------------

  val TopKOther = 3

  /** Per-nation top-k customers by exact-cents spend PLUS the "all
    * others" residual row (rnk 0, NULL custkey) — the BI leaderboard
    * contract where the long tail must still reconcile to the total.
    *
    * Scale shape: the ONLY ranked rows are the top-k (rank ≤ literal k
    * ⇒ Spark's InferWindowGroupLimit bounds the per-nation sort
    * map-side to k rows/partition before the exchange); the residual is
    * computed as per-nation TOTALS MINUS the top-k sums — a
    * partial-agg-friendly hash aggregate — never by ranking the tail
    * (an `rnk > k` branch would force the full per-nation sort: 25
    * nation keys × customers/25 rows = the r9 single-task-sort shape at
    * 100×). Top rows + OTHER sums partition the spend exactly (integer
    * cents — spec-pinned); a nation with ≤ k customers emits no OTHER
    * row (totals == top-k sums filter). */
  def topKWithOther(customer: DataFrame, orders: DataFrame,
      k: Int = TopKOther): DataFrame = {
    val spend = orders.groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(14,2)")) * 100)
        .cast("long").as("cents"))
      .join(customer.select(col("c_custkey"), col("c_nationkey").as("nation")),
        col("c_custkey") === col("o_custkey"))
      .select(col("nation"), col("c_custkey").as("custkey"), col("cents"))
    Settle.using(spend)(Settle.shared {
      val w = Window.partitionBy(col("nation"))
        .orderBy(col("cents").desc, col("custkey"))
      val top = spend.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
      val totals = spend.groupBy(col("nation"))
        .agg(sum(col("cents")).cast("long").as("t_cents"),
          count(lit(1)).as("t_members"))
      val topAgg = top.groupBy(col("nation"))
        .agg(sum(col("cents")).cast("long").as("k_cents"),
          count(lit(1)).as("k_members"))
      val other = totals.join(topAgg, Seq("nation"))
        .filter(col("t_members") > col("k_members"))
        .select(col("nation"), lit(0L).as("rnk"),
          lit(null).cast("long").as("custkey"),
          (col("t_cents") - col("k_cents")).as("cents"),
          (col("t_members") - col("k_members")).as("n_members"))
      top.select(col("nation"), col("rnk").cast("long").as("rnk"),
          col("custkey"), col("cents"), lit(1L).as("n_members"))
        .unionByName(other)
    })
  }

  def qTopKWithOther(spark: SparkSession, dir: String): DataFrame =
    topKWithOther(Tables.customer(spark, dir), Tables.orders(spark, dir))
      .orderBy(col("nation"), col("rnk"))

  def oTopKWithOther: String =
    s"""WITH spend AS (
      |  SELECT c.c_nationkey AS nation, c.c_custkey AS custkey,
      |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY nation
      |    ORDER BY cents DESC, custkey) AS rnk
      |  FROM spend),
      |top AS (
      |  SELECT nation, CAST(rnk AS BIGINT) AS rnk, custkey, cents,
      |         CAST(1 AS BIGINT) AS n_members
      |  FROM r WHERE rnk <= $TopKOther),
      |oth AS (
      |  SELECT nation, CAST(0 AS BIGINT) AS rnk,
      |         CAST(NULL AS BIGINT) AS custkey,
      |         CAST(sum(cents) AS BIGINT) AS cents,
      |         CAST(count(*) AS BIGINT) AS n_members
      |  FROM r WHERE rnk > $TopKOther GROUP BY nation)
      |SELECT * FROM top UNION ALL SELECT * FROM oth
      |ORDER BY nation, rnk""".stripMargin
}
