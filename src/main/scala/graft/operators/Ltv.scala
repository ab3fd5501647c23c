package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}

/** Revenue-over-time serving rollups: the cohort LTV triangle and
  * period-over-period deltas.
  */
object Ltv {

  /** Customer-cohort LTV triangle: cohort = first-order year, each row
    * a (cohort, order-year) cell with active customers and exact-decimal
    * revenue (cast to double once at the edge), plus the cohort's
    * year-0 size for rate reading. Two aggregates: customer-grain firsts
    * (partial-agg friendly), then cohort×year cells; the cohort-size
    * rejoin broadcasts ≤#years rows. */
  def cohortLtv(orders: DataFrame): DataFrame = {
    // r17: the first-order cohort table feeds both the cell join and
    // the cohort-size rollup — un-cached, the orders scan + customer-
    // grain aggregate ran twice (3 orders scans in the before plan).
    val firsts = Settle.shared(orders.groupBy(col("o_custkey"))
      .agg(year(min(col("o_orderdate"))).as("cohort_year")))
    val cells = orders
      .select(col("o_custkey"), year(col("o_orderdate")).as("order_year"),
        col("o_totalprice").cast("decimal(14,2)").as("price"))
      .join(firsts, Seq("o_custkey"))
      .groupBy(col("cohort_year"), col("order_year"))
      .agg(countDistinct(col("o_custkey")).as("active_customers"),
        sum(col("price")).as("rev_dec"))
    val sizes = firsts.groupBy(col("cohort_year"))
      .agg(count(lit(1)).as("cohort_size"))
    cells.join(broadcast(sizes), Seq("cohort_year"))
      .select(col("cohort_year"), col("order_year"),
        (col("order_year") - col("cohort_year")).as("year_offset"),
        col("cohort_size"), col("active_customers"),
        col("rev_dec").cast("double").as("revenue"))
  }

  def qCohortLtv(spark: SparkSession, dir: String): DataFrame =
    cohortLtv(Tables.orders(spark, dir))
      .orderBy(col("cohort_year"), col("order_year"))

  def oCohortLtv: String =
    """WITH f AS (
      |  SELECT o_custkey,
      |         CAST(year(min(o_orderdate)) AS INTEGER) AS cohort_year
      |  FROM orders GROUP BY o_custkey),
      |cells AS (
      |  SELECT f.cohort_year, CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
      |         count(DISTINCT o.o_custkey) AS active_customers,
      |         sum(CAST(o.o_totalprice AS DECIMAL(14,2))) AS rev_dec
      |  FROM orders o JOIN f USING (o_custkey)
      |  GROUP BY 1, 2),
      |sz AS (SELECT cohort_year, count(*) AS cohort_size
      |       FROM f GROUP BY cohort_year)
      |SELECT c.cohort_year, c.order_year,
      |  c.order_year - c.cohort_year AS year_offset,
      |  CAST(sz.cohort_size AS BIGINT) AS cohort_size,
      |  CAST(c.active_customers AS BIGINT) AS active_customers,
      |  CAST(c.rev_dec AS DOUBLE) AS revenue
      |FROM cells c JOIN sz USING (cohort_year)
      |ORDER BY cohort_year, order_year""".stripMargin

  // --------------------------------------------- period-over-period

  /** Weekly revenue with week-over-week delta: exact-decimal weekly
    * sums, previous week via lag over the ≤#weeks rollup (the window
    * runs on calendar grain, never rows), and the change as the exact
    * integer surrogate ⌊(cur−prev)·1000/prev⌋ on integer cents —
    * no float division on unstable denominators. */
  def weeklyChange(orders: DataFrame): DataFrame = {
    val weekly = orders
      .select(year(col("o_orderdate")).as("yr"),
        weekofyear(col("o_orderdate")).as("wk"),
        col("o_totalprice").cast("decimal(14,2)").as("price"))
      .groupBy(col("yr"), col("wk"))
      .agg(count(lit(1)).as("n_orders"), sum(col("price")).as("rev_dec"))
    val w = Window.orderBy(col("yr"), col("wk"))
    weekly
      .withColumn("prev_dec", lag(col("rev_dec"), 1).over(w))
      .withColumn("cur_cents", (col("rev_dec") * 100).cast("long"))
      .withColumn("prev_cents", (col("prev_dec") * 100).cast("long"))
      .select(col("yr"), col("wk"), col("n_orders"),
        col("rev_dec").cast("double").as("revenue"),
        when(col("prev_cents").isNotNull,
          floor((col("cur_cents") - col("prev_cents")) * lit(1000L) /
            col("prev_cents")).cast("long")).as("wow_milli"))
  }

  def qWeeklyChange(spark: SparkSession, dir: String): DataFrame =
    weeklyChange(Tables.orders(spark, dir)).orderBy(col("yr"), col("wk"))

  def oWeeklyChange: String =
    """WITH w AS (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |         CAST(weekofyear(o_orderdate) AS INTEGER) AS wk,
      |         count(*) AS n_orders,
      |         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev_dec
      |  FROM orders GROUP BY 1, 2),
      |l AS (
      |  SELECT yr, wk, n_orders, rev_dec,
      |         lag(rev_dec) OVER (ORDER BY yr, wk) AS prev_dec
      |  FROM w)
      |SELECT yr, wk, CAST(n_orders AS BIGINT) AS n_orders,
      |  CAST(rev_dec AS DOUBLE) AS revenue,
      |  CASE WHEN prev_dec IS NOT NULL THEN
      |    CAST(floor((CAST(rev_dec * 100 AS BIGINT) - CAST(prev_dec * 100 AS BIGINT))
      |      * 1000 / CAST(prev_dec * 100 AS BIGINT)) AS BIGINT)
      |  END AS wow_milli
      |FROM l ORDER BY yr, wk""".stripMargin
}
