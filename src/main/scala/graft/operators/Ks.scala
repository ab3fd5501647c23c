package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}

/** Two-sample Kolmogorov–Smirnov distance — the distribution-shift
  * test behind "did this feature drift between cohorts/segments":
  * D = max_v |F₁(v) − F₂(v)| over the pooled empirical CDFs.
  *
  * Exactness: D is a RATIONAL with denominator n₁·n₂, so the operator
  * carries d_num = max |C₁(v)·n₂ − C₂(v)·n₁| in integers (C = counts
  * ≤ v) and emits D in micro units by floor division — no doubles, no
  * libm, hash-exact. The asymptotic α = 0.05 rejection
  * D > 1.358·√((n₁+n₂)/(n₁n₂)) is decided by squaring into integers:
  * d_num²·10⁶ > 1843964·(n₁+n₂)·n₁·n₂, evaluated in DECIMAL(38,0)
  * (DuckDB: HUGEINT) because d_num² alone can reach ~10²⁴ at 10⁵
  * samples; only the 0/1 flag leaves the wide type.
  *
  * Scale shape (the [[Skyline]]/[[Curation.budgetSelect]] discipline):
  * collapse to one row per DISTINCT VALUE first (hash aggregate —
  * ties in either sample land on one level, which is also what makes
  * the tied-sample ECDF evaluation correct), range-partition the
  * levels, collect per-partition totals ONCE (they double as n₁/n₂ —
  * the lateness lesson: the control-plane pass carries every scalar
  * the finish needs), broadcast strict-prefix offsets, finish with a
  * partition-LOCAL running sum and one max aggregate. No global
  * single-task sort; max task = one range partition of LEVELS. */
object Ks {

  /** ⌈1.358² · 10⁶⌉ — the α = 0.05 two-sample coefficient, squared. */
  val C2Micro = 1843964L

  /** (n_a, n_b, d_num, d_micro, reject_05) for the KS distance between
    * `df`'s rows where `isA` and the rest, over `valueCol`. */
  def ksDistance(df: DataFrame, valueCol: String, isA: org.apache.spark.sql.Column,
      nPartitions: Int = 32): DataFrame = {
    val lv = df
      .select(col(valueCol).as("v"), when(isA, 1L).otherwise(0L).as("ia"))
      .filter(col("v").isNotNull)
      .groupBy(col("v"))
      .agg(sum(col("ia")).as("ca"), sum(lit(1L) - col("ia")).as("cb"))
      .repartitionByRange(nPartitions, col("v"))
      .withColumn("_pid", spark_partition_id())
    Settle.using(lv)(Settle.shared {
      val spark = df.sparkSession
      import spark.implicits._
      val stats = lv.groupBy(col("_pid"))
        .agg(sum(col("ca")).as("sa"), sum(col("cb")).as("sb"))
        .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
        .sortBy(_._1)
      val na = stats.map(_._2._1).sum
      val nb = stats.map(_._2._2).sum
      // strict-prefix pair offsets: counts of each sample in every
      // earlier value range (the shared control-plane scan)
      val offsets: Seq[(Int, Long, Long)] =
        Scale.strictPrefix(stats.toSeq, (0L, 0L)) {
          case ((accA, accB), (a, b)) => (accA + a, accB + b)
        }.map { case (pid, (pa, pb)) => (pid, pa, pb) }
      val w = Window.partitionBy(col("_pid")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lv.join(broadcast(offsets.toDF("_pid", "_offa", "_offb")), Seq("_pid"))
        .withColumn("cum_a", sum(col("ca")).over(w) + col("_offa"))
        .withColumn("cum_b", sum(col("cb")).over(w) + col("_offb"))
        .agg(max(abs(col("cum_a") * nb - col("cum_b") * na)).as("d_num"))
        // empty input: the ungrouped max is one NULL row, but the twin's
        // grouped CTE emits zero — align on zero rows
        .filter(col("d_num").isNotNull)
        .select(
          lit(na).as("n_a"), lit(nb).as("n_b"), col("d_num"),
          // d_num·10⁶ passes BIGINT once n₁·n₂ > ~9.2·10¹² — the same
          // reason the reject flag widens; quotient ≤ 10⁶ narrows back
          expr(s"cast((cast(d_num as decimal(38,0)) * 1000000)" +
            s" div (cast(${na}L as decimal(38,0)) * ${nb}L) as bigint)")
            .as("d_micro"),
          (col("d_num").cast("decimal(38,0)") * col("d_num") * lit(1000000L)
            > lit(C2Micro).cast("decimal(38,0)") * lit(na + nb) * lit(na) * lit(nb))
            .cast("int").as("reject_05"))
    })
  }

  /** KS between click and purchase event-value distributions. */
  def qKsValueByType(spark: SparkSession, dir: String): DataFrame =
    ksDistance(
      Tables.events(spark, dir)
        .filter(col("event_type").isin("click", "purchase")),
      "value", col("event_type") === "click")

  // -------------------------------------------------- Mann-Whitney U

  /** Two-sample Mann-Whitney U — the rank-based drift test next to the
    * ECDF-based [[ksDistance]]: KS is sensitive to ANY distributional
    * difference, U specifically to stochastic dominance (one cohort's
    * values systematically larger), and U/(n₁n₂) IS the AUC of the
    * value as a separator of the two cohorts. Exact integers under
    * ties: ranks are midranks carried DOUBLED (2·before + m + 1 is
    * integral for a tie-group of m values starting after `before`
    * pooled rows), so R₁ and U₁ live ×2 and never see a fraction;
    * `auc_micro` = ⌊10⁶·U₁/(n₁n₂)⌋ evaluated in DECIMAL(38) (u1_x2
    * alone can pass 2⁶³/10⁶ at corpus cohorts).
    *
    * Scale shape: the [[ksDistance]] level-table discipline verbatim —
    * hash-aggregate to distinct values, range-partition levels, ONE
    * control-plane collect of per-partition pair totals,
    * [[Scale.strictPrefix]] offsets broadcast back, partition-local
    * exclusive running sums, one 1-row aggregate. No global sort. */
  def mwu(df: DataFrame, valueCol: String,
      isA: org.apache.spark.sql.Column, nPartitions: Int = 32): DataFrame = {
    val lv = df
      .select(col(valueCol).as("v"), when(isA, 1L).otherwise(0L).as("ia"))
      .filter(col("v").isNotNull)
      .groupBy(col("v"))
      .agg(sum(col("ia")).as("ca"), sum(lit(1L) - col("ia")).as("cb"))
      .repartitionByRange(nPartitions, col("v"))
      .withColumn("_pid", spark_partition_id())
    Settle.using(lv)(Settle.shared {
      val spark = df.sparkSession
      import spark.implicits._
      val stats = lv.groupBy(col("_pid"))
        .agg(sum(col("ca")).as("sa"), sum(col("cb")).as("sb"))
        .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
        .sortBy(_._1)
      val na = stats.map(_._2._1).sum
      val nb = stats.map(_._2._2).sum
      val offsets: Seq[(Int, Long)] =
        Scale.strictPrefix(stats.toSeq, 0L) {
          case (acc, (a, b)) => acc + a + b
        }
      val w = Window.partitionBy(col("_pid")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      lv.join(broadcast(offsets.toDF("_pid", "_off")), Seq("_pid"))
        .withColumn("before",
          coalesce(sum(col("ca") + col("cb")).over(w), lit(0L)) + col("_off"))
        .agg(sum(col("ca") *
          (lit(2L) * col("before") + col("ca") + col("cb") + 1L)).as("r1_x2"))
        .filter(col("r1_x2").isNotNull)
        .select(lit(na).as("n_a"), lit(nb).as("n_b"), col("r1_x2"),
          (col("r1_x2") - lit(na) * lit(na + 1)).as("u1_x2"))
        .withColumn("auc_micro",
          // an empty cohort has no defined ranking AUC: NULL in BOTH
          // engines, not a Spark-NULL/DuckDB-division-error divergence
          // (na/nb are driver-side, so the guard is a plan-time branch)
          if (na == 0L || nb == 0L) lit(null).cast("bigint")
          else expr(s"cast((cast(u1_x2 as decimal(38,0)) * 500000)" +
            s" div (cast(${na}L as decimal(38,0)) * ${nb}L) as bigint)"))
    })
  }

  def qMwuValueByType(spark: SparkSession, dir: String): DataFrame =
    mwu(
      Tables.events(spark, dir)
        .filter(col("event_type").isin("click", "purchase")),
      "value", col("event_type") === "click")

  /** Twin: the textbook single-window midrank form over the level
    * table — doubled ranks keep ties integral in both engines. */
  def oMwuValueByType: String =
    s"""WITH p AS (
       |  SELECT value AS v,
       |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
       |  FROM events
       |  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
       |lv AS (
       |  SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
       |    CAST(sum(1 - ia) AS BIGINT) AS cb
       |  FROM p GROUP BY v),
       |t AS (
       |  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
       |  FROM lv),
       |c AS (
       |  SELECT ca, cb,
       |    CAST(coalesce(sum(ca + cb) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS before
       |  FROM lv),
       |r AS (
       |  SELECT CAST(sum(ca * (2 * before + ca + cb + 1)) AS BIGINT) AS r1_x2
       |  FROM c)
       |SELECT t.na AS n_a, t.nb AS n_b, r.r1_x2,
       |  CAST(r.r1_x2 - t.na * (t.na + 1) AS BIGINT) AS u1_x2,
       |  CASE WHEN t.na * t.nb = 0 THEN CAST(NULL AS BIGINT)
       |    ELSE CAST((CAST(r.r1_x2 - t.na * (t.na + 1) AS HUGEINT) * 500000)
       |       // (CAST(t.na AS HUGEINT) * t.nb) AS BIGINT)
       |  END AS auc_micro
       |FROM r CROSS JOIN t
       |WHERE r.r1_x2 IS NOT NULL""".stripMargin

  /** Twin: the textbook single-window form over the level table (the
    * operator must equal it exactly — same tied-value levels, same
    * integer cross-multiplication, same HUGEINT flag arithmetic). */
  def oKsValueByType: String =
    s"""WITH p AS (
       |  SELECT value AS v,
       |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
       |  FROM events
       |  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
       |lv AS (
       |  SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
       |    CAST(sum(1 - ia) AS BIGINT) AS cb
       |  FROM p GROUP BY v),
       |t AS (
       |  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
       |  FROM lv),
       |c AS (
       |  SELECT
       |    CAST(sum(ca) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
       |    CAST(sum(cb) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
       |  FROM lv),
       |d AS (
       |  SELECT CAST(max(abs(cum_a * t.nb - cum_b * t.na)) AS BIGINT) AS d_num,
       |    t.na, t.nb
       |  FROM c CROSS JOIN t GROUP BY t.na, t.nb)
       |SELECT na AS n_a, nb AS n_b, d_num,
       |  CAST((CAST(d_num AS HUGEINT) * 1000000)
       |       // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS d_micro,
       |  CAST(CASE WHEN CAST(d_num AS HUGEINT) * d_num * 1000000
       |        > CAST($C2Micro AS HUGEINT) * (na + nb) * na * nb
       |    THEN 1 ELSE 0 END AS INTEGER) AS reject_05
       |FROM d""".stripMargin
}
