package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}

/** Watermark-lateness profile — the design input for every streaming
  * watermark choice: replay history in ARRIVAL order (event_id is the
  * ingestion sequence), track the running event-time high-water mark,
  * and measure each event's lateness against it. The bucketed histogram
  * IS the answer to "how much data does a 1-hour watermark drop?" —
  * measured from the pipeline's own history instead of guessed
  * (StreamingOps picks 2 h; this query is where such a number should
  * come from).
  *
  * Exactness: lateness is an integer second difference against a
  * running max over a pinned ordering; buckets are CASE ranges; shares
  * are ⌊·1000⌋.
  *
  * The running max is DISTRIBUTED (was the repo's last global
  * single-task window until r14): range-partition by arrival order,
  * collect only per-partition maxima (control plane), broadcast their
  * strict prefix, and take the greatest of the partition-LOCAL running
  * max and the broadcast offset — [[Scale.globalRank]]'s offset pattern
  * pointed at a running extreme (the [[Skyline]] machinery). The hwm
  * per row is identical for any partition count because offsets come
  * from actual partition maxima over the same total order. */
object Lateness {

  def latenessProfile(events: DataFrame, nPartitions: Int = 32): DataFrame = {
    val slim = events
      .select(col("event_id"), col("ts").cast("long").as("tsec"))
      .repartitionByRange(nPartitions, col("event_id"))
      .withColumn("_pid", spark_partition_id())
    Settle.using(slim)(Settle.shared {
      val spark = events.sparkSession
      import spark.implicits._
      // ONE control-plane pass carries both per-partition maxima (the
      // prefix offsets) and per-partition counts (the grand total the
      // share denominator needs) — the old form paid a whole extra
      // cached pass + a 1-row crossJoin just to count. A partition of
      // only null-ts rows has a NULL max — carried as None, it
      // contributes nothing to the prefix instead of NPE-ing the
      // driver read
      val stats = slim.groupBy(col("_pid"))
        .agg(max(col("tsec")).as("m"), count(lit(1)).as("c"))
        .collect().map(r => (r.getInt(0),
          (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))))
        .sortBy(_._1)
      val nn = stats.map(_._2._2).sum
      // strict prefix: the high-water mark carried in from every
      // earlier arrival range (None until a real timestamp appears)
      val offsets: Seq[(Int, Option[Long])] =
        Scale.strictPrefix(stats.toSeq, Option.empty[Long]) {
          case (acc, (m, _)) =>
            (acc ++ m).reduceOption((a: Long, b: Long) => math.max(a, b))
        }
      val w = Window.partitionBy(col("_pid")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      slim.join(broadcast(offsets.toDF("_pid", "_off")), Seq("_pid"))
        // greatest() skips the null first-partition offset; the local
        // window is inclusive, so hwm is never null
        .withColumn("hwm", greatest(max(col("tsec")).over(w), col("_off")))
        .withColumn("late_s", col("hwm") - col("tsec"))
        .withColumn("bucket",
          when(col("late_s") === 0, "a_on_time")
            .when(col("late_s") <= 60, "b_1min")
            .when(col("late_s") <= 3600, "c_1hour")
            .when(col("late_s") <= 7200, "d_2hours")
            .otherwise("e_later"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), max(col("late_s")).as("max_late_s"))
        .withColumn("share_milli", expr(s"(n * 1000) div ${nn}L"))
        .select(col("bucket"), col("n"), col("max_late_s"), col("share_milli"))
    })
  }

  def qLatenessProfile(spark: SparkSession, dir: String): DataFrame =
    latenessProfile(Tables.events(spark, dir)).orderBy(col("bucket"))

  def oLatenessProfile: String =
    """WITH l AS (
      |  SELECT event_id, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS tsec FROM events),
      |h AS (
      |  SELECT *, max(tsec) OVER (ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
      |  FROM l),
      |b AS (
      |  SELECT hwm - tsec AS late_s,
      |    CASE WHEN hwm - tsec = 0 THEN 'a_on_time'
      |         WHEN hwm - tsec <= 60 THEN 'b_1min'
      |         WHEN hwm - tsec <= 3600 THEN 'c_1hour'
      |         WHEN hwm - tsec <= 7200 THEN 'd_2hours'
      |         ELSE 'e_later' END AS bucket
      |  FROM h),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM b)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
      |  CAST(max(late_s) AS BIGINT) AS max_late_s,
      |  CAST((count(*) * 1000) // t.nn AS BIGINT) AS share_milli
      |FROM b, t GROUP BY bucket, t.nn ORDER BY bucket""".stripMargin
}
