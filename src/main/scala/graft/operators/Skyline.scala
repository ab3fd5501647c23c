package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}

/** Skyline (Pareto-frontier) query: the rows no other row beats on both
  * criteria at once — the "best tradeoffs" set (cheapest for its size,
  * biggest for its price) that catalog pruning, offer selection, and
  * config tuning all reduce to. The classic formulation is a NOT EXISTS
  * dominance anti-join — O(n²) and the DuckDB twin — which no 100 TB
  * table survives.
  *
  * Scale design (2-D case): the frontier has a sequential
  * characterization — sort by cost ascending, keep a row iff its gain
  * strictly exceeds every gain at a strictly lower cost — and the
  * "running extreme over a global order" is exactly the distributed
  * prefix pattern of [[Curation.budgetSelect]]: collapse to one row per
  * COST LEVEL first (a hash aggregate; levels are distinct, so "strictly
  * lower cost" = "all preceding level rows"), range-partition the levels
  * by cost, collect only the nPartitions per-partition maxima (control
  * plane), broadcast their strict prefix as per-partition offsets, and
  * finish with a partition-LOCAL window — no global single-task sort
  * anywhere, and the result is identical whatever boundaries the range
  * sampler picks because offsets come from actual partition extremes.
  * Max task = one range partition of LEVELS (≤ distinct costs, ≪ rows).
  *
  * Dominance semantics (strict in at least one): equal points do not
  * dominate each other, so duplicated optimum rows are ALL kept — the
  * level join keys on (cost, gain = level max) and the window rule uses
  * strict inequalities on both sides, matching the twin's
  * `AND (q.cost < p.cost OR q.gain > p.gain)` exactly.
  */
object Skyline {

  /** Frontier of `pts` minimizing `costCol` and maximizing `gainCol`
    * (an integral measure — cast to long for the control-plane prefix).
    * Output: one row per non-dominated input row (key, cost, gain).
    * Null measures are EXCLUDED by definition (a point with no cost
    * cannot sit on a cost/gain frontier) — note this is a semantic
    * choice, not an implication: a bare NOT-EXISTS dominance query
    * would keep null rows vacuously (no comparison against them is
    * ever true), so the SQL twin filters nulls explicitly to match. */
  def frontier2d(pts: DataFrame, keyCol: String, costCol: String,
      gainCol: String, nPartitions: Int = 8): DataFrame = {
    val p = pts
      .select(col(keyCol), col(costCol).as("cost"),
        col(gainCol).cast("long").as("gain"))
      .filter(col("cost").isNotNull && col("gain").isNotNull)
    val levels = costLevels(p, nPartitions)
    val frontierLevels = Settle.using(levels)(Settle.shared {
      // control plane: nPartitions (pid, max) rows, nothing data-sized
      val maxima = levels.groupBy(col("_pid")).agg(max(col("best_gain")).as("m"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      // strict prefix: the best gain in any STRICTLY earlier partition
      // (every row there has strictly lower cost than every row here —
      // levels are distinct costs, so range boundaries never split a tie)
      val offsets: Seq[(Int, Option[Long])] =
        Scale.strictPrefix(maxima.toSeq, Option.empty[Long]) {
          case (acc, m) => Some(acc.fold(m)(math.max(_, m)))
        }
      // frontier levels are the output scale (≤ levels, typically ≪) —
      // settled so the join below doesn't recompute the fixpoint
      frontierOfLevels(levels, offsets)
    })
    // the level keys share attribute ids with p (groupBy preserves them
    // through the checkpoint) — qualify via aliases, the self-join idiom
    p.as("pp").join(frontierLevels.as("fl"),
        col("pp.cost") === col("fl.cost") &&
          col("pp.gain") === col("fl.best_gain"))
      .select(col(s"pp.$keyCol"), col("pp.cost"), col("pp.gain"))
  }

  /** One row per distinct cost with the level's best gain, range-spread
    * over `nPartitions` and stamped with the partition id the prefix
    * machinery keys on. */
  private[graft] def costLevels(p: DataFrame, nPartitions: Int): DataFrame =
    p.groupBy(col("cost")).agg(max(col("gain")).as("best_gain"))
      .repartitionByRange(nPartitions, col("cost"))
      .withColumn("_pid", spark_partition_id())

  /** The per-partition finish: broadcast offsets + a window PARTITIONED
    * BY _pid (factored pre-checkpoint so the plan spec can pin that the
    * running max never collapses to a single-partition window — the
    * silent way this operator would stop scaling). greatest() skips
    * nulls: first partition has no offset, first row per partition has
    * no running max — null prefix = "nothing to beat". */
  private[graft] def frontierOfLevels(lv: DataFrame,
      offsets: Seq[(Int, Option[Long])]): DataFrame = {
    val spark = lv.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("_pid")).orderBy(col("cost"))
      .rowsBetween(Window.unboundedPreceding, -1)
    lv.join(broadcast(offsets.toDF("_pid", "_off")), Seq("_pid"))
      .withColumn("_pref",
        greatest(max(col("best_gain")).over(w), col("_off")))
      .filter(col("_pref").isNull || col("best_gain") > col("_pref"))
      .select(col("cost"), col("best_gain"))
  }

  /** Attach the count of rows each frontier point strictly dominates —
    * the "how much of the table this option beats" presentation. The
    * frontier broadcasts (it is answer-sized); the count is one pass
    * over `pts` per the nested-loop join, map-side only. Drop this
    * decoration if a pathological staircase makes the frontier itself
    * data-sized. */
  def withDominanceCounts(frontier: DataFrame, pts: DataFrame,
      costCol: String, gainCol: String): DataFrame = {
    val q = pts.select(col(costCol).as("q_cost"),
        col(gainCol).cast("long").as("q_gain"))
      .filter(col("q_cost").isNotNull && col("q_gain").isNotNull)
    // right-outer with the frontier broadcast: the streamed (probe) side
    // must be the non-preserved side for a broadcast nested-loop outer
    // join, and the big table is exactly that side here
    q.join(broadcast(frontier),
        col("cost") <= col("q_cost") && col("gain") >= col("q_gain") &&
          (col("cost") < col("q_cost") || col("gain") > col("q_gain")),
        "right")
      .groupBy(frontier.columns.map(col): _*)
      .agg(count(col("q_cost")).as("n_dominated"))
  }

  /** The part-catalog value frontier: no other part is both cheaper and
    * larger. Gain = p_size (integer), cost = p_retailprice. */
  def qPartSkyline(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast("long").as("p_size"))
    val f = frontier2d(part, "p_partkey", "p_retailprice", "p_size")
    withDominanceCounts(f, part, "p_retailprice", "p_size")
      .select(col("p_partkey"), col("cost").as("p_retailprice"),
        col("gain").as("p_size"), col("n_dominated"))
      .orderBy(col("p_partkey"))
  }

  /** Twin: the O(n²) dominance anti-join this operator replaces, plus a
    * correlated dominance count per survivor. The null filter mirrors
    * the operator's null-measure exclusion — a bare NOT EXISTS would
    * keep null rows vacuously. */
  def oPartSkyline: String =
    """WITH pts AS (
      |  SELECT p_partkey, p_retailprice, CAST(p_size AS BIGINT) AS p_size
      |  FROM part
      |  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL),
      |sky AS (
      |  SELECT p_partkey, p_retailprice, p_size
      |  FROM pts p
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM pts q
      |    WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      |      AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)))
      |SELECT s.p_partkey, s.p_retailprice, s.p_size,
      |  (SELECT count(*) FROM pts q
      |   WHERE s.p_retailprice <= q.p_retailprice AND s.p_size >= q.p_size
      |     AND (s.p_retailprice < q.p_retailprice OR s.p_size > q.p_size))
      |    AS n_dominated
      |FROM sky s ORDER BY p_partkey""".stripMargin
}
