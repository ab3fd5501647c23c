package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}
import graft.functions.TextFns

/** Fully ORACLE-ABLE mergeable sketches: KMV (bottom-k) distinct
  * counting and a count-min frequency sketch.
  *
  * [[Scale.qSketchStats]] uses Spark's native HLL, whose register
  * layout no other engine reproduces — it is the one rows-only gate in
  * the whole surface. These two sketches close that gap: both are
  * built from the cross-engine 56-bit md5 hash ([[TextFns.md5u56]]),
  * use integer arithmetic end to end, and therefore hash-match their
  * DuckDB twins exactly while keeping the properties that matter at
  * 100 TB — constant size per group and cell-wise/set-wise
  * mergeability (spec-pinned), so shards sketch independently and a
  * coordinator folds tiny artifacts instead of re-scanning events.
  *
  * KMV (k minimum values, Bar-Yossef et al. 2002): keep the k smallest
  * distinct hash values of a key set; with hashes uniform on [0, M),
  * the k-th smallest m_k estimates the distinct count as
  * (k−1)·M / m_k. Sketch = k longs; union(A, B) = k smallest of
  * sig(A) ∪ sig(B).
  *
  * Count-min (Cormode & Muthukrishnan 2005): a d×w integer grid;
  * count(key) adds to cell (i, h_i(key) mod w) for each of d salted
  * hash rows; the estimate is the min over the d cells — always an
  * OVERestimate (collisions only add). The sketch is a linear map of
  * the count vector, so per-shard sketches merge by cell-wise sum.
  *
  * Scale shape: KMV shuffles only DISTINCT (group, hash) pairs, then
  * ranks within group — never raw events twice. CMS is built from the
  * per-term partial counts (linearity makes that identical to
  * per-occurrence increments), so the grid costs d extra rows per
  * DISTINCT term, not per token.
  */
object Sketches {

  /** KMV sketch size. */
  val K = 64
  /** md5u56 hash domain: [0, 2^56). (K−1)·M = 63·2^56 < 2^63. */
  val M: Long = 1L << 56

  /** Distinct (group, hash) pairs of `keyCol` hashed into [0, M). */
  private def distinctHashes(df: DataFrame, groupCol: String, keyCol: String): DataFrame =
    df.select(col(groupCol),
        TextFns.md5u56(col(keyCol).cast("string")).as("h"))
      .distinct()

  /** Bottom-K hash rows per group — the KMV signature in row form
    * (≤ K rows per group; the mergeable artifact). */
  def kmvSig(df: DataFrame, groupCol: String, keyCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col("h"))
    distinctHashes(df, groupCol, keyCol)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
  }

  /** Union of two row-form signatures = signature of the union of the
    * underlying key sets (k smallest of the merged hash sets). */
  def kmvMerge(a: DataFrame, b: DataFrame, groupCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col("h"))
    a.select(col(groupCol), col("h"))
      .union(b.select(col(groupCol), col("h")))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
  }

  /** Distinct-count estimate per group from a row-form signature:
    * exact when the group holds < K distinct hashes (the sketch IS the
    * set), else (K−1)·M div m_K — all long arithmetic, so the DuckDB
    * twin reproduces it bit for bit. */
  def kmvEstimate(sig: DataFrame, groupCol: String): DataFrame =
    sig.groupBy(col(groupCol))
      .agg(max(col("h")).as("kth_hash"), count(lit(1)).as("k_kept"))
      .withColumn("est_distinct",
        when(col("k_kept") < K, col("k_kept"))
          .otherwise(expr(s"(${K - 1}L * ${M}L) div kth_hash")))

  /** Per-event-type distinct-user estimate next to the exact count and
    * the error in basis points — the self-check a planner reads before
    * trusting the sketch at scale. */
  def kmvDistinct(events: DataFrame): DataFrame = {
    val dh = distinctHashes(events, "event_type", "user_id")
    Settle.using(dh)(Settle.shared {
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val sig = dh.withColumn("rn", row_number().over(w)).filter(col("rn") <= K)
      val est = kmvEstimate(sig, "event_type")
      val exact = dh.groupBy(col("event_type"))
        .agg(count(lit(1)).as("exact_distinct"))
      est.join(exact, "event_type")
        .withColumn("err_bp",
          expr("(abs(est_distinct - exact_distinct) * 10000) div exact_distinct"))
        .select(col("event_type"), col("k_kept"), col("kth_hash"),
          col("est_distinct"), col("exact_distinct"), col("err_bp"))
        .orderBy(col("event_type"))
    })
  }

  def qKmvDistinct(spark: SparkSession, dir: String): DataFrame =
    kmvDistinct(Tables.events(spark, dir))

  def oKmvDistinct: String = {
    val h = TextFns.md5u56Sql("CAST(user_id AS VARCHAR)")
    raw"""WITH dh AS (
      |  SELECT DISTINCT event_type, $h AS h FROM events),
      |sig AS (
      |  SELECT event_type, h,
      |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |  FROM dh QUALIFY rn <= $K),
      |est AS (
      |  SELECT event_type, CAST(max(h) AS BIGINT) AS kth_hash,
      |         CAST(count(*) AS BIGINT) AS k_kept
      |  FROM sig GROUP BY event_type),
      |exact AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
      |  FROM dh GROUP BY event_type)
      |SELECT e.event_type, k_kept, kth_hash,
      |       CAST(CASE WHEN k_kept < $K THEN k_kept
      |                 ELSE (${K - 1} * ${M}) // kth_hash END AS BIGINT)
      |         AS est_distinct,
      |       exact_distinct,
      |       (abs(CAST(CASE WHEN k_kept < $K THEN k_kept
      |                 ELSE (${K - 1} * ${M}) // kth_hash END AS BIGINT)
      |            - exact_distinct) * 10000) // exact_distinct AS err_bp
      |FROM est e JOIN exact x ON e.event_type = x.event_type
      |ORDER BY e.event_type""".stripMargin
  }

  /** Equi-width histogram buckets for the quantile sketch. */
  val HB = 1024L

  /** Equi-width histogram QUANTILE sketch per group: bucket counts are
    * a LINEAR map of the value distribution (cell-wise addable across
    * shards, the CMS property), and a quantile estimate reads off the
    * cumulative counts — error bounded by one bucket width. All
    * arithmetic is subtract/divide/multiply/floor over doubles — IEEE
    * operations both engines execute identically on identical parquet
    * bits — so unlike percentile_approx's KLL internals the estimates
    * hash-match a DuckDB twin exactly.
    *
    * Scale shape: one ≤|groups|-row range aggregate broadcast back, one
    * partial-agg shuffle to ≤ |groups|×[[HB]] cells, cumulative window
    * over ≤[[HB]] rows per group — bounded state end to end. */
  /** Per-group (lo, hi, n, span) — the bucket-boundary contract every
    * shard must share for grids to be addable. */
  def histRanges(events: DataFrame): DataFrame =
    events.groupBy(col("event_type")).agg(
        min(col("value")).as("lo"), max(col("value")).as("hi"),
        count(lit(1)).as("n"))
      .withColumn("span",
        when(col("hi") > col("lo"), col("hi") - col("lo")).otherwise(lit(1.0)))

  /** The grid in row form under FIXED ranges: (group, bucket) → count.
    * A linear map of the distribution — per-shard grids built against
    * the same ranges merge by cell-wise sum (spec-pinned). */
  def histCells(events: DataFrame, rng: DataFrame): DataFrame =
    events.join(broadcast(rng), Seq("event_type"))
      .withColumn("bucket", least(lit(HB - 1), greatest(lit(0L),
        floor((col("value") - col("lo")) / col("span") * lit(HB.toDouble))
          .cast("long"))))
      .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("c"))

  def histQuantiles(events: DataFrame,
      ps: Seq[(String, Double)] = Seq("est_p50" -> 0.5, "est_p99" -> 0.99)): DataFrame = {
    val rng = histRanges(events)
    val cum = histCells(events, rng)
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col("bucket"))))
      .join(broadcast(rng), Seq("event_type"))
    val picks = ps.map { case (name, p) =>
      cum.filter(col("cum") >= ceil(lit(p) * col("n")))
        .groupBy(col("event_type")).agg(min(col("bucket")).as("b"))
        .join(broadcast(rng), Seq("event_type"))
        .select(col("event_type"),
          (col("lo") + (col("b") + 1).cast("double") / lit(HB.toDouble)
            * col("span")).as(name))
    }
    picks.reduce(_.join(_, Seq("event_type")))
  }

  /** The sketch-stats surface, fully hash-gated (VERDICT r9 item 5 —
    * the native-HLL/KLL version was the repo's ONE rows-only gate; it
    * survives as [[Scale.qSketchStatsNative]] under a tolerance spec):
    * per event type, KMV distinct-user estimate next to the exact
    * count, and histogram-sketch p50/p99 of value. Every leg is a real
    * bounded-memory mergeable sketch AND bit-reproducible in DuckDB. */
  def qSketchStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val est = kmvEstimate(kmvSig(ev, "event_type", "user_id"), "event_type")
      .select(col("event_type"), col("est_distinct").as("est_users"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    est.join(exact, Seq("event_type"))
      .join(histQuantiles(ev), Seq("event_type"))
      .select(col("event_type"), col("est_users"), col("exact_users"),
        col("est_p50"), col("est_p99"))
      .orderBy(col("event_type"))
  }

  def oSketchStats: String = {
    val h = TextFns.md5u56Sql("CAST(user_id AS VARCHAR)")
    raw"""WITH dh AS (
      |  SELECT DISTINCT event_type, $h AS h FROM events),
      |sig AS (
      |  SELECT event_type, h,
      |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |  FROM dh QUALIFY rn <= $K),
      |est AS (
      |  SELECT event_type, CAST(max(h) AS BIGINT) AS kth_hash,
      |         CAST(count(*) AS BIGINT) AS k_kept
      |  FROM sig GROUP BY event_type),
      |exact AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS exact_users
      |  FROM dh GROUP BY event_type),
      |rng AS (
      |  SELECT event_type, min(value) AS lo, max(value) AS hi,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CASE WHEN max(value) > min(value) THEN max(value) - min(value)
      |              ELSE 1.0 END AS span
      |  FROM events GROUP BY event_type),
      |cells AS (
      |  SELECT e.event_type,
      |         least(${HB - 1}, greatest(0,
      |           CAST(floor((e.value - r.lo) / r.span * ${HB}.0) AS BIGINT)))
      |           AS bucket,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM events e JOIN rng r USING (event_type) GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, bucket,
      |         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bucket)
      |           AS BIGINT) AS cum
      |  FROM cells),
      |p50 AS (
      |  SELECT c.event_type, r.lo + (min(c.bucket) + 1) / ${HB}.0 * r.span
      |           AS est_p50
      |  FROM cum c JOIN rng r USING (event_type)
      |  WHERE c.cum >= ceil(0.5 * r.n) GROUP BY c.event_type, r.lo, r.span),
      |p99 AS (
      |  SELECT c.event_type, r.lo + (min(c.bucket) + 1) / ${HB}.0 * r.span
      |           AS est_p99
      |  FROM cum c JOIN rng r USING (event_type)
      |  WHERE c.cum >= ceil(0.99 * r.n) GROUP BY c.event_type, r.lo, r.span)
      |SELECT e.event_type,
      |       CAST(CASE WHEN k_kept < $K THEN k_kept
      |                 ELSE (${K - 1} * ${M}) // kth_hash END AS BIGINT)
      |         AS est_users,
      |       x.exact_users, p50.est_p50, p99.est_p99
      |FROM est e JOIN exact x USING (event_type)
      |JOIN p50 USING (event_type) JOIN p99 USING (event_type)
      |ORDER BY e.event_type""".stripMargin
  }

  /** The MERGE path under its own gate: per-(type, day) KMV signatures
    * — the shape a warehouse persists nightly — folded across days into
    * the full-range distinct estimate. The KMV closure property makes
    * the fold EXACT, not approximate-on-approximate: the global k
    * smallest hashes are each among their own day's k smallest, so
    * bottom-k of the unioned daily signatures IS bottom-k of the raw
    * union (spec-pinned equal to the direct signature). At 100 TB the
    * read path touches Σdays·K signature rows, never the events. */
  def kmvDailyMerge(events: DataFrame): DataFrame = {
    val dh = events.select(col("event_type"), to_date(col("ts")).as("day"),
        TextFns.md5u56(col("user_id").cast("string")).as("h"))
      .distinct()
    Settle.using(dh)(Settle.shared {
      val wDay = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("h"))
      val daily = dh.withColumn("rn", row_number().over(wDay))
        .filter(col("rn") <= K)
        .select(col("event_type"), col("day"), col("h"))
      val wType = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val merged = daily.select(col("event_type"), col("h")).distinct()
        .withColumn("rn", row_number().over(wType))
        .filter(col("rn") <= K)
      val est = kmvEstimate(merged, "event_type")
      val exact = dh.select(col("event_type"), col("h")).distinct()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("exact_distinct"))
      val days = daily.groupBy(col("event_type"))
        .agg(countDistinct(col("day")).as("n_days"))
      est.join(exact, Seq("event_type")).join(days, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("k_kept"),
          col("est_distinct"), col("exact_distinct"))
        .orderBy(col("event_type"))
    })
  }

  def qKmvDailyMerge(spark: SparkSession, dir: String): DataFrame =
    kmvDailyMerge(Tables.events(spark, dir))

  def oKmvDailyMerge: String = {
    val h = TextFns.md5u56Sql("CAST(user_id AS VARCHAR)")
    raw"""WITH dh AS (
      |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, $h AS h
      |  FROM events),
      |daily AS (
      |  SELECT event_type, day, h,
      |         row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS rn
      |  FROM dh QUALIFY rn <= $K),
      |merged AS (
      |  SELECT event_type, h,
      |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |  FROM (SELECT DISTINCT event_type, h FROM daily)
      |  QUALIFY rn <= $K),
      |est AS (
      |  SELECT event_type, CAST(max(h) AS BIGINT) AS kth_hash,
      |         CAST(count(*) AS BIGINT) AS k_kept
      |  FROM merged GROUP BY event_type),
      |exact AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
      |  FROM (SELECT DISTINCT event_type, h FROM dh) GROUP BY event_type),
      |days AS (
      |  SELECT event_type, CAST(count(DISTINCT day) AS BIGINT) AS n_days
      |  FROM daily GROUP BY event_type)
      |SELECT e.event_type, days.n_days, e.k_kept,
      |       CAST(CASE WHEN k_kept < $K THEN k_kept
      |                 ELSE (${K - 1} * ${M}) // kth_hash END AS BIGINT)
      |         AS est_distinct,
      |       x.exact_distinct
      |FROM est e JOIN exact x USING (event_type) JOIN days USING (event_type)
      |ORDER BY e.event_type""".stripMargin
  }

  /** Rolling-window length (days) for the sliding distinct estimate. */
  val RollDays = 7

  /** Rolling 7-day distinct users per type FROM THE DAILY SIGNATURES —
    * the query that is miserable on raw data (every day re-scans a
    * week of events for an exact distinct) and trivial on sketches:
    * pool each day's bottom-K rows over the trailing window (a range
    * join against Σdays·K tiny signature rows, never the events),
    * re-take bottom-K, estimate. The KMV closure property again makes
    * pooling exact: the window's k smallest hashes are each within
    * their own day's k smallest. `exact_distinct` is the audit leg a
    * fixture-scale gate can afford; production reads sketches only. */
  def kmvRollingDistinct(events: DataFrame): DataFrame = {
    val dh = events.select(col("event_type"), to_date(col("ts")).as("day"),
        TextFns.md5u56(col("user_id").cast("string")).as("h"))
      .distinct()
    Settle.using(dh)(Settle.shared {
      val wDay = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("h"))
      val daily = dh.withColumn("rn", row_number().over(wDay))
        .filter(col("rn") <= K)
        .select(col("event_type"), col("day"), col("h"))
      val days = dh.select(col("event_type"), col("day")).distinct()
      def pool(src: DataFrame): DataFrame = src.as("s")
        .join(days.as("d"),
          col("s.event_type") === col("d.event_type") &&
            col("s.day") >= date_sub(col("d.day"), RollDays - 1) &&
            col("s.day") <= col("d.day"))
        .select(col("d.event_type").as("event_type"),
          col("d.day").as("day"), col("s.h").as("h"))
        .distinct()
      val sig = pool(daily)
        .withColumn("rn", row_number().over(wDay))
        .filter(col("rn") <= K)
      val est = sig.groupBy(col("event_type"), col("day"))
        .agg(max(col("h")).as("kth_hash"), count(lit(1)).as("k_kept"))
        .withColumn("est_distinct",
          when(col("k_kept") < K, col("k_kept"))
            .otherwise(expr(s"(${K - 1}L * ${M}L) div kth_hash")))
      // r17: the exact audit leg used to route the FULL distinct-hash
      // table through pool() — an event-type-keyed join fanning every
      // hash row across ALL of its type's days before the 7-day range
      // filter (|dh| × days-per-type intermediate rows), followed by a
      // corpus-sized distinct. Rewritten as
      // interval deltas: a hash h counts toward day D iff h appeared in
      // [D−6, D], i.e. iff D lies in the union of [a, a+6] over h's
      // appearance days a; merging runs of appearances ≤6 days apart
      // gives disjoint covered intervals [s, e+6], so per (type, h) we
      // emit +1 at each run start and −1 at run end + 7, aggregate
      // deltas to CALENDAR grain, and one running sum over (type, day)
      // — a bounded, calendar-sized window — yields the identical
      // integer counts with no fan-out and no second distinct
      // (measured 3.7 s → see OPTIMIZATION_r17.md; bit-equal by the
      // oracle gate, which keeps the range-join formulation).
      val wRun = Window.partitionBy(col("event_type"), col("h"))
        .orderBy(col("day"))
      val runs = dh
        .withColumn("prev_day", lag(col("day"), 1).over(wRun))
        .withColumn("next_day", lead(col("day"), 1).over(wRun))
      val starts = runs.filter(col("prev_day").isNull ||
          datediff(col("day"), col("prev_day")) > RollDays - 1)
        .select(col("event_type"), col("day").as("dday"), lit(1L).as("delta"))
      val ends = runs.filter(col("next_day").isNull ||
          datediff(col("next_day"), col("day")) > RollDays - 1)
        .select(col("event_type"), date_add(col("day"), RollDays).as("dday"),
          lit(-1L).as("delta"))
      val deltas = starts.union(ends)
        .groupBy(col("event_type"), col("dday"))
        .agg(sum(col("delta")).as("delta"))
      // running sum over the union of delta days and result days; at a
      // shared day the delta row sorts first (is_day 0 < 1), so a +1 on
      // day D counts for D and a −1 at runEnd+7 stops counting there
      val wCum = Window.partitionBy(col("event_type"))
        .orderBy(col("dday"), col("is_day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val exact = deltas
        .select(col("event_type"), col("dday"), col("delta"),
          lit(0).as("is_day"))
        .unionByName(days.select(col("event_type"), col("day").as("dday"),
          lit(0L).as("delta"), lit(1).as("is_day")))
        .withColumn("exact_distinct", sum(col("delta")).over(wCum))
        .filter(col("is_day") === 1)
        .select(col("event_type"), col("dday").as("day"),
          col("exact_distinct"))
      est.join(exact, Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("k_kept"),
          col("est_distinct"), col("exact_distinct"))
    })
  }

  def qKmvRollingDistinct(spark: SparkSession, dir: String): DataFrame =
    kmvRollingDistinct(Tables.events(spark, dir))
      .orderBy(col("event_type"), col("day"))

  def oKmvRollingDistinct: String = {
    val h = TextFns.md5u56Sql("CAST(user_id AS VARCHAR)")
    raw"""WITH dh AS (
      |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, $h AS h
      |  FROM events),
      |daily AS (
      |  SELECT event_type, day, h,
      |         row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS rn
      |  FROM dh QUALIFY rn <= $K),
      |days AS (SELECT DISTINCT event_type, day FROM dh),
      |pooled AS (
      |  SELECT DISTINCT d.event_type, d.day, s.h
      |  FROM daily s JOIN days d
      |    ON s.event_type = d.event_type
      |   AND s.day BETWEEN d.day - ${RollDays - 1} AND d.day),
      |sig AS (
      |  SELECT event_type, day, h,
      |         row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS rn
      |  FROM pooled QUALIFY rn <= $K),
      |est AS (
      |  SELECT event_type, day, CAST(max(h) AS BIGINT) AS kth_hash,
      |         CAST(count(*) AS BIGINT) AS k_kept
      |  FROM sig GROUP BY 1, 2),
      |exact AS (
      |  SELECT d.event_type, d.day, CAST(count(DISTINCT u.h) AS BIGINT)
      |           AS exact_distinct
      |  FROM dh u JOIN days d
      |    ON u.event_type = d.event_type
      |   AND u.day BETWEEN d.day - ${RollDays - 1} AND d.day
      |  GROUP BY 1, 2)
      |SELECT e.event_type, e.day, e.k_kept,
      |       CAST(CASE WHEN k_kept < $K THEN k_kept
      |                 ELSE (${K - 1} * ${M}) // kth_hash END AS BIGINT)
      |         AS est_distinct,
      |       x.exact_distinct
      |FROM est e JOIN exact x USING (event_type, day)
      |ORDER BY event_type, day""".stripMargin
  }

  /** Count-min grid depth (salted hash rows) and width (buckets). */
  val D = 4
  val W = 1024L

  /** Exact per-term token counts over the corpus — the count vector
    * the linear sketch is a projection of. */
  private def termCounts(docs: DataFrame): DataFrame =
    docs.select(explode(TextFns.words(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))

  /** The d×w grid in row form: (i, bucket) → cell sum. Built from the
    * per-term partials; by linearity this equals per-occurrence
    * increments, at d rows per DISTINCT term instead of per token. */
  def cmsCells(counts: DataFrame): DataFrame =
    counts
      .select(explode(array((0 until D).map(lit): _*)).as("i"),
        col("term"), col("cnt"))
      .withColumn("bucket",
        pmod(TextFns.md5u56(
          concat(col("i").cast("string"), lit("#"), col("term"))), lit(W)))
      .groupBy(col("i"), col("bucket"))
      .agg(sum(col("cnt")).as("cell"))

  /** Point-query the 20 hottest terms against the sketch: estimate =
    * min over the d cells; `overest` is the collision inflation (≥ 0
    * by construction — the spec pins it). */
  def cmsTopTerms(docs: DataFrame): DataFrame = {
    val counts = termCounts(docs)
    Settle.using(counts)(Settle.shared {
      val top = counts.orderBy(col("cnt").desc, col("term")).limit(20)
      val cells = cmsCells(counts)
      val probes = top
        .select(explode(array((0 until D).map(lit): _*)).as("i"),
          col("term"), col("cnt"))
        .withColumn("bucket",
          pmod(TextFns.md5u56(
            concat(col("i").cast("string"), lit("#"), col("term"))), lit(W)))
      probes.join(cells, Seq("i", "bucket"))
        .groupBy(col("term"))
        .agg(max(col("cnt")).as("exact_cnt"), min(col("cell")).as("est_cnt"))
        .withColumn("overest", col("est_cnt") - col("exact_cnt"))
        .select(col("term"), col("exact_cnt"), col("est_cnt"), col("overest"))
        .orderBy(col("exact_cnt").desc, col("term"))
    })
  }

  def qCmsTopTerms(spark: SparkSession, dir: String): DataFrame =
    cmsTopTerms(Tables.documents(spark, dir))

  def oCmsTopTerms: String = {
    val h = TextFns.md5u56Sql("CAST(i AS VARCHAR) || '#' || term")
    raw"""WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |counts AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks
      |  WHERE length(term) > 0 GROUP BY term),
      |cells AS (
      |  SELECT i, $h % $W AS bucket, CAST(sum(cnt) AS BIGINT) AS cell
      |  FROM counts, range($D) t(i) GROUP BY 1, 2),
      |top AS (
      |  SELECT term, cnt FROM counts ORDER BY cnt DESC, term LIMIT 20),
      |probes AS (
      |  SELECT term, cnt, i, $h % $W AS bucket FROM top, range($D) t(i))
      |SELECT p.term, max(p.cnt) AS exact_cnt, min(c.cell) AS est_cnt,
      |       min(c.cell) - max(p.cnt) AS overest
      |FROM probes p JOIN cells c ON p.i = c.i AND p.bucket = c.bucket
      |GROUP BY p.term
      |ORDER BY exact_cnt DESC, term""".stripMargin
  }
}
