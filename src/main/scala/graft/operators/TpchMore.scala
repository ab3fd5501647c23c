package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Settle, Tables}

/** The remaining canonical TPC-H shapes (Q13, Q16, Q17, Q18, Q20, Q21)
  * adapted to the fixture star schema: no partsupp (lineitem-derived
  * proxies), no l_commitdate/l_receiptdate (lateness = shipped >90 days
  * after the order date), no p_container/comment columns (brand/type/
  * size and priority stand-ins). The PLAN shapes are the point:
  * outer-join count distributions, NOT-IN anti joins over distinct
  * pairs, correlated-average decorrelation, HAVING semi joins, nested
  * semi chains, and the double EXISTS / NOT-EXISTS self-join.
  *
  * Numeric discipline matches [[Tpch]]: decimal intermediates for every
  * SUM/AVG that feeds a comparison or output, one final double cast, so
  * the DuckDB hash-compare is exact. */
object TpchMore {

  private def dq(c: Column): Column = c.cast(DecimalType(12, 2))  // quantity
  private def dp(c: Column): Column = c.cast(DecimalType(14, 2))  // price

  /** Q13 customer order-count distribution: aggregate orders per
    * customer FIRST (partial agg before the join — at 100 TB the join
    * input shrinks from |orders| to |customers|), left-join onto the
    * customer dim so zero-order customers survive with count 0, then
    * re-aggregate into the distribution. */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    Tables.customer(spark, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  def q13OracleSql: String =
    """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
      |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) t
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q16 supplier-count per part descriptor: distinct (part, supplier)
    * pairs from lineitem stand in for partsupp; suppliers with negative
    * balance stand in for the complaints NOT IN — a broadcast anti join,
    * NEVER a per-row subquery. Distinct-pair reduction happens before
    * the dim join so the join input is |partsupp|, not |lineitem|. */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 4, 7, 10, 15, 22, 25, 36, 45, 49)
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#9" && !col("p_type").like("SMALL%")
        && col("p_size").isin(sizes: _*))
    val complaints = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(complaints), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  def q16OracleSql: String =
    """SELECT p_brand, p_type, p_size,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#9' AND p_type NOT LIKE 'SMALL%'
      |  AND p_size IN (1, 4, 7, 10, 15, 22, 25, 36, 45, 49)
      |  AND NOT EXISTS (SELECT 1 FROM supplier
      |                  WHERE s_acctbal < 0 AND s_suppkey = ps.l_suppkey)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Q17 small-quantity revenue: the correlated `l_quantity <
    * 0.2 * AVG(l_quantity) over this part` decorrelates into a broadcast
    * join against a per-part aggregate. The comparison is algebraically
    * lifted to `qty * cnt * 5 < sum_qty` in DECIMAL, so no float
    * division can put the two engines on opposite sides of a boundary
    * row. Brand filter is semi-joined below BOTH aggregations. */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val brandParts = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#9").select(col("p_partkey"))
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
    val perPart = li.groupBy(col("l_partkey").as("a_partkey"))
      .agg(sum(dq(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("cnt"))
    li.join(broadcast(perPart),
        col("l_partkey") === col("a_partkey")
          && dq(col("l_quantity")) * col("cnt") * 5 < col("sum_qty"))
      .agg((sum(dp(col("l_extendedprice"))).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }

  def q17OracleSql: String =
    """WITH li AS (
      |  SELECT l_partkey, l_quantity, l_extendedprice
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_brand = 'Brand#9'),
      |pp AS (
      |  SELECT l_partkey AS a_partkey,
      |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
      |    COUNT(*) AS cnt
      |  FROM li GROUP BY l_partkey)
      |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) / 7.0
      |  AS avg_yearly
      |FROM li JOIN pp ON l_partkey = a_partkey
      |  AND CAST(l_quantity AS DECIMAL(12,2)) * cnt * 5 < sum_qty""".stripMargin

  /** Q18 large-volume orders: ONE lineitem scan. The HAVING subquery's
    * per-order quantity sum IS the query's output measure (the final
    * group is per order), so qualifying orders keep their aggregate and
    * no probe leg rejoins the fact table — the textbook form scans
    * lineitem twice for a value it already computed. The filtered
    * aggregate is tiny (orders with >300 total qty) → broadcast onto
    * orders; customer is a broadcast dim. Final ordering is pinned with
    * the orderkey tiebreak so top-100 is deterministic. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame =
    q18On(Tables.lineitem(spark, dir), Tables.orders(spark, dir),
      Tables.customer(spark, dir))

  /** Q18 over caller-supplied tables — [[graft.operators.Scale.q18Bucketed]]
    * passes the orderkey-bucketed facts so the per-order quantity
    * aggregate (the query's one lineitem-sized shuffle) rides the
    * layout's partitioning instead. */
  def q18On(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame): DataFrame = {
    val big = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(dq(col("l_quantity"))).as("b_qty"))
      .filter(col("b_qty") > 300)
    orders
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(customer),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("b_qty").cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  def q18OracleSql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      |LIMIT 100""".stripMargin

  /** Q20 qualified-supplier shape: the nested IN chain (suppliers who
    * moved > threshold of some red part) becomes aggregate → filter →
    * distinct → semi join; nation filter rides the broadcast supplier
    * dim join. No correlated execution anywhere. */
  def q20QualifiedSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(spark, dir)
      .filter(col("p_name").like("red%")).select(col("p_partkey"))
    val qualified = Tables.lineitem(spark, dir)
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(dq(col("l_quantity"))).as("qty"))
      .filter(col("qty") > 60)
      .select(col("l_suppkey")).distinct()
    Tables.supplier(spark, dir)
      .join(broadcast(qualified), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_3")
      .select(col("s_name"), col("n_name"))
      .orderBy(col("s_name"))
  }

  def q20OracleSql: String =
    """SELECT s_name, n_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_name = 'NATION_3'
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      |    WHERE p_name LIKE 'red%'
      |    GROUP BY l_suppkey, l_partkey
      |    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 60)
      |ORDER BY s_name""".stripMargin

  /** Q11 important-stock shape (completes the full 22-shape TPC-H set):
    * per-part inventory value vs a scalar fraction of the corpus total.
    * partsupp value is proxied by lineitem revenue per (part, supplier).
    * The correlated `> fraction * SUM(...)` scalar subquery decorrelates
    * into a 1-row broadcast (crossJoin of an aggregate over the CACHED
    * per-part frame — one lineitem scan total), and the comparison is
    * lifted to exact decimal `part_value * 1500 > total` (value >
    * ~0.067% of corpus total ≈ top-13% of parts on the fixture) so no
    * float multiply sits on the qualify boundary. */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(dp(col("l_extendedprice"))).as("value"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("value")).as("part_value"))
    // total == Σ part_value in exact decimal, so derive it from the
    // CACHED per-part aggregate instead of re-scanning lineitem and
    // redoing the pair aggregation (the uncached two-leg form doubled
    // the fact-table scan — the biggest cost in the query)
    Settle.using(perPart)(Settle.shared {
      perPart.crossJoin(broadcast(perPart.agg(sum(col("part_value")).as("total"))))
        .filter(col("part_value") * 1500 > col("total"))
        .select(col("l_partkey"), col("part_value").cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("l_partkey"))
    })
  }

  def q11OracleSql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS value
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)
      |SELECT l_partkey, CAST(SUM(value) AS DOUBLE) AS part_value
      |FROM ps GROUP BY l_partkey
      |HAVING SUM(value) * 1500 > (SELECT SUM(value) FROM ps)
      |ORDER BY part_value DESC, l_partkey""".stripMargin

  /** Q21 waiting-supplier shape: for finalized orders, suppliers whose
    * line shipped late (>90 days after the order date) in a multi-
    * supplier order where NO other supplier was late. The EXISTS is a
    * semi self-join and the NOT EXISTS an anti self-join of the same
    * late set — both hash joins on orderkey with the suppkey inequality
    * as a residual condition, never a nested-loop subquery. */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val joined = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY"))
      .select(col("l_orderkey"), col("l_suppkey"), col("late"))
    // the lineitem⋈orders result feeds three join legs (probe, EXISTS
    // build, NOT-EXISTS build); cache it once or the biggest join in the
    // query runs three times (ReuseExchange can't unify the differently-
    // filtered/projected legs)
    Settle.using(joined)(Settle.shared {
      val late = joined.filter(col("late"))
      late
        .join(joined.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2")),
          col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"),
          "left_semi")
        .join(late.select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3")),
          col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"),
          "left_anti")
        .join(broadcast(Tables.supplier(spark, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    })
  }

  def q21OracleSql: String =
    """WITH lf AS (
      |  SELECT l_orderkey, l_suppkey,
      |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F')
      |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM lf l1 JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE l1.late
      |  AND EXISTS (SELECT 1 FROM lf l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lf l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin
}
