package graft

import java.time.LocalDate
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Silver
import graft.sinks.JdbcSink
import graft.sources.Bronze

/** End-to-end pipeline driver: the reference's Airflow DAG (SURVEY §3 E3)
  * collapsed into one program — ingest → silver → gold → quality gate →
  * ledger — with the reference's pessimizations removed:
  *  - one pass per stage, metrics via observe() instead of eager
  *    re-counts (SURVEY §2.11);
  *  - the enriched frame is cached before fanning out to detail + two
  *    aggregate writes (the reference recomputed it per write);
  *  - gold loads are idempotent by anti-join, not by swallowing
  *    duplicate-key errors.
  */
object Pipeline {

  /** Retention tiers (config.yaml:112-115: bronze 30 / silver 90 / gold
    * 365 days). Bronze + Silver are partitioned-parquet sweeps; Gold is a
    * DB-side DELETE like the reference's cleanup_old_data
    * (sql/schema.sql:259-286). `asOf` is the one clock every tier's
    * cutoff counts back from; injectable for the boundary tests. */
  case class Retention(
      bronzeDays: Int = 30,
      silverDays: Int = 90,
      goldDays: Int = 365,
      asOf: LocalDate = LocalDate.now())

  case class Config(
      sourceDir: String,
      warehouseDir: String,
      jdbcUrl: Option[String] = None,
      date: Option[LocalDate] = None,
      // reference tolerates up to 10% critical nulls (config.yaml:107
      // max_null_threshold; tests/test_pipeline.py:311-320)
      maxNullRatio: Double = 0.10,
      retention: Option[Retention] = None,
      retry: StageRunner.RetryPolicy = StageRunner.RetryPolicy(retries = 0),
      notifier: StageRunner.Notifier = StageRunner.Notifier.noop,
      sleeper: Long => Unit = Thread.sleep)

  case class Report(
      executionId: String,
      bronzeRows: Long,
      silverRows: Long,
      goldRowsLoaded: Long,
      goldRowsByTier: (Long, Long, Long), // detailed, daily, hourly
      duplicateKeys: Long,
      criticalNulls: Long,
      nullRatio: Double,
      gatePassed: Boolean,
      retentionDeleted: Long)

  def run(spark: SparkSession, cfg: Config): Report = {
    val executionId = UUID.randomUUID().toString
    val log = cfg.jdbcUrl.map { url =>
      val l = new JdbcSink.PipelineLog(url); l.ensureTable(); l
    }
    val runner = new StageRunner(executionId, log, cfg.retry, cfg.notifier, cfg.sleeper)
    def staged[T](stage: String, rows: T => Long)(f: => T): T =
      runner.staged(stage, rows)(f)

    // 1. ingest: events stream → partitioned Bronze (AvailableNow drain)
    val bronzePath = s"${cfg.warehouseDir}/bronze/events"
    staged[Unit]("bronze_ingest", _ => 0L) {
      val src = Tables.eventsStream(spark, s"${cfg.warehouseDir}/landing")
      val q = Bronze.ingestStream(src, bronzePath, s"${cfg.warehouseDir}/checkpoints/bronze")
      q.awaitTermination()
    }
    // Bronze row count rides the silver job as an observe() metric on the
    // scan node — no separate count pass over Bronze (SURVEY §2.11; same
    // treatment the silver count already gets).
    val bronzeObs = org.apache.spark.sql.Observation("bronze_rows")
    val bronze = Bronze.readBronze(spark, bronzePath, cfg.date)
      .observe(bronzeObs, count(lit(1)).as("rows"))

    // 2. silver: clean + enrich once, fan out to detail + 2 aggregates.
    // Row count comes from observe() on the detail write — one metric
    // piggybacked on the job instead of the reference's recount pass
    // (silver_processor.py:321-327, SURVEY §2.11).
    val silverPath = s"${cfg.warehouseDir}/silver"
    val goldPath = s"${cfg.warehouseDir}/gold/events_daily" // writer AND sweep
    val enriched = Silver.enrich(Silver.clean(bronze))
    // released in a finally, so a failed run (a Scheduler tick whose gold
    // load throws) leaves nothing cached behind
    val (silverRows, goldTiers, (dups, nulls, total)) = Settle.using(enriched) {
      val silverRows = staged[Long]("silver", identity) {
        val obs = org.apache.spark.sql.Observation("silver_rows")
        Bronze.writePartitioned(
          enriched.observe(obs, count(lit(1)).as("rows")),
          s"$silverPath/events_cleaned", Seq("year", "month"))
        Bronze.writePartitioned(
          Silver.dailyAgg(enriched), s"$silverPath/events_daily_agg", Seq("year", "month"))
        Bronze.writePartitioned(
          Silver.hourlyAgg(enriched), s"$silverPath/events_hourly_agg", Seq("year", "month"))
        obs.get("rows").asInstanceOf[Long]
      }

      // 3. gold: idempotent load of all three tiers (detailed + daily +
      // hourly, gold_loader.py:357-370 — the reference loads all three, not
      // just the daily rollup). JDBC if configured, else parquet dedup-merge
      // of the daily tier.
      val goldTiers = staged[(Long, Long, Long)]("gold_load",
        t => t._1 + t._2 + t._3) {
        val daily = spark.read.parquet(s"$silverPath/events_daily_agg")
          .select(col("event_type"), col("year"), col("month"), col("day"),
            make_date(col("year"), col("month"), col("day")).as("date"),
            col("avg_value"), col("min_value"), col("max_value"),
            col("sum_value"), col("record_count"), col("distinct_users"))
        cfg.jdbcUrl match {
          case Some(url) =>
            ensureGoldTables(url)
            val detailed = spark.read.parquet(s"$silverPath/events_cleaned")
              .select("event_id", "ts", "user_id", "event_type", "value",
                "data_quality_score", "heat_index")
            val hourly = spark.read.parquet(s"$silverPath/events_hourly_agg")
              .select(col("event_type"), col("year"), col("month"), col("day"),
                col("hour"),
                make_timestamp(col("year"), col("month"), col("day"), col("hour"),
                  lit(0), lit(0)).as("datetime"),
                col("avg_value"), col("min_value"), col("max_value"),
                col("record_count"), col("distinct_users"))
            val d = JdbcSink.idempotentAppend(spark, detailed, url,
              "gold_events_detailed", Seq("event_id"))
            val dd = JdbcSink.idempotentAppend(spark, daily, url,
              "gold_events_daily", Seq("event_type", "year", "month", "day"))
            val hh = JdbcSink.idempotentAppend(spark, hourly, url,
              "gold_events_hourly", Seq("event_type", "year", "month", "day", "hour"))
            (d, dd, hh)
          case None =>
            (0L, parquetGoldLoad(spark, daily, goldPath), 0L)
        }
      }

      // 4. quality gate (weather_pipeline_dag.py:166-223): nonzero output,
      // duplicate natural keys, critical-null RATIO under the reference's
      // threshold (config.yaml:107 — 10%, not zero-tolerance).
      (silverRows, goldTiers, gateMetrics(enriched, Seq("user_id", "ts"),
        col("user_id").isNull || col("value").isNull))
    }
    val bronzeRows = bronzeObs.get("rows").asInstanceOf[Long]
    val goldRows = goldTiers._1 + goldTiers._2 + goldTiers._3
    val nullRatio = if (total == 0) 0.0 else nulls.toDouble / total
    val gate = silverRows > 0 && dups == 0 && nullRatio <= cfg.maxNullRatio

    // 5. retention (cleanup_old_data analog; DAG task
    // weather_pipeline_dag.py:306-313 runs after the quality gate):
    // parquet sweeps for bronze/silver tiers, DB-side deletes for gold.
    val retained = cfg.retention.fold(0L) { r =>
      staged[Long]("cleanup_old_data", identity) {
        val swept =
          Bronze.retentionSweep(spark, bronzePath, r.bronzeDays, r.asOf) +
          Seq("events_cleaned", "events_daily_agg", "events_hourly_agg")
            .map(t => Bronze.retentionSweep(spark, s"$silverPath/$t", r.silverDays, r.asOf))
            .sum
        val dbDeleted = cfg.jdbcUrl.fold(0L) { url =>
          val cutoff = r.asOf.minusDays(r.goldDays)
          (JdbcSink.retentionDelete(url, "gold_events_detailed", "\"ts\"", cutoff) +
            JdbcSink.retentionDelete(url, "gold_events_daily", "\"date\"",
              cutoff, dateTyped = true) +
            JdbcSink.retentionDelete(url, "gold_events_hourly", "\"datetime\"",
              cutoff)).toLong
        }
        // parquet-mode gold: goldDays applies here too (sweep granularity
        // is the year/month partition — a month drops once wholly expired)
        val goldSwept =
          if (cfg.jdbcUrl.isEmpty)
            Bronze.retentionSweep(spark, goldPath, r.goldDays, r.asOf)
          else 0L
        swept + dbDeleted + goldSwept
      }
    }

    val report = Report(executionId, bronzeRows, silverRows, goldRows,
      goldTiers, dups, nulls, nullRatio, gate, retained)
    cfg.notifier.onSuccess(report)
    report
  }

  /** Parquet-mode idempotent gold append: anti-join the incoming daily
    * tier against the existing partitioned gold on the natural key,
    * append only what's missing, return the appended row count.
    * Partitioned by year/month so the retention sweep can drop expired
    * gold the same way it drops bronze/silver — unpartitioned gold
    * parquet was unprunable and grew unbounded. */
  private[graft] def parquetGoldLoad(spark: SparkSession, daily: DataFrame,
      goldPath: String): Long = {
    // a warehouse from the pre-partitioned release holds bare part files
    // at the gold root; rewrite them into the y/m layout BEFORE the
    // first partitioned append, or the two layouts mix and partition
    // discovery fails forever after
    migrateLegacyGold(spark, goldPath)
    val existing =
      try spark.read.parquet(goldPath).select("event_type", "year", "month", "day")
      // missing-path only — anything else (corrupt footer, mixed
      // layout) must surface, not silently re-append everything
      catch { case _: org.apache.spark.sql.AnalysisException => spark.emptyDataFrame }
    // persist before counting, same reason as JdbcSink.idempotentAppend:
    // count + write are two actions, and without the cache each re-runs
    // the anti-join AND the existing-keys gold scan (at a year of
    // history that doubles the load cost per run)
    val fresh = (
      if (existing.columns.isEmpty) daily
      else JdbcSink.newRowsOnly(daily, existing, Seq("event_type", "year", "month", "day"))
    )
    Settle.using(fresh) {
      val n = fresh.count()
      if (n > 0) fresh.write.mode("append")
        .partitionBy("year", "month").parquet(goldPath)
      n
    }
  }

  /** One-job quality metrics: (duplicate-key count, critical-null rows,
    * total rows). Groups on the natural key, then folds group sizes and
    * per-group null counts in a single second-stage aggregate — the
    * reference runs a separate query per signal
    * (weather_pipeline_dag.py:179-210); this is one shuffle, one action. */
  def gateMetrics(df: DataFrame, keys: Seq[String],
      isCriticalNull: org.apache.spark.sql.Column): (Long, Long, Long) = {
    val row = df
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("c"),
        sum(when(isCriticalNull, 1L).otherwise(0L)).as("n"))
      .agg(count(when(col("c") > 1, 1)).as("dup_keys"),
        coalesce(sum("n"), lit(0L)).as("nulls"),
        coalesce(sum("c"), lit(0L)).as("total"))
      .head()
    (row.getAs[Long]("dup_keys"), row.getAs[Long]("nulls"), row.getAs[Long]("total"))
  }

  private val goldDdls = Map(
    "GOLD_EVENTS_DETAILED" ->
      """CREATE TABLE gold_events_detailed (
        |  "event_id" BIGINT NOT NULL, "ts" TIMESTAMP NOT NULL,
        |  "user_id" BIGINT, "event_type" VARCHAR(32), "value" DOUBLE,
        |  "data_quality_score" INT, "heat_index" DOUBLE,
        |  CONSTRAINT uq_events_detailed UNIQUE ("event_id")
        |)""".stripMargin,
    "GOLD_EVENTS_DAILY" ->
      """CREATE TABLE gold_events_daily (
        |  "event_type" VARCHAR(32), "year" INT, "month" INT, "day" INT,
        |  "date" DATE,
        |  "avg_value" DOUBLE, "min_value" DOUBLE, "max_value" DOUBLE,
        |  "sum_value" DOUBLE, "record_count" BIGINT, "distinct_users" BIGINT
        |)""".stripMargin,
    "GOLD_EVENTS_HOURLY" ->
      """CREATE TABLE gold_events_hourly (
        |  "event_type" VARCHAR(32), "year" INT, "month" INT, "day" INT,
        |  "hour" INT, "datetime" TIMESTAMP,
        |  "avg_value" DOUBLE, "min_value" DOUBLE, "max_value" DOUBLE,
        |  "record_count" BIGINT, "distinct_users" BIGINT
        |)""".stripMargin)

  /** One-time layout upgrade for the parquet gold tier: the previous
    * release appended bare part files at the gold root; the partitioned
    * writer would otherwise create year=/month= dirs NEXT TO them and
    * partition discovery fails on the mixed layout from then on. Reads
    * only the legacy root files, appends them into the partitioned
    * layout, then drops the originals — idempotent (second call finds
    * no root files) and a no-op on fresh or already-migrated roots.
    *
    * Single-writer assumption: between the partitioned append and the
    * root-file delete (or from a crash inside that window until the next
    * run repairs it), the gold root holds BOTH layouts, and an external
    * reader doing a whole-root `spark.read.parquet(goldPath)` fails
    * partition discovery. Recovery is idempotent (the anti-join appends
    * only what's missing), but concurrent readers must not race a
    * migrating run — gate them on pipeline completion. */
  private[graft] def migrateLegacyGold(spark: SparkSession, goldPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(goldPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val rootFiles = fs.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (rootFiles.isEmpty) return
    val legacy = spark.read.parquet(rootFiles.map(_.getPath.toString): _*)
    // Crash-safe by idempotence, not ordering: rows already present in
    // the partitioned layout (from a migration that appended but died
    // before deleting the root files) are anti-joined out on the natural
    // key, so re-running after ANY interruption appends only what's
    // missing. The partition dirs are read explicitly (basePath keeps
    // the partition columns) because a mixed root can't be read whole.
    val partDirs = fs.listStatus(p)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("year="))
      .map(_.getPath.toString)
    val keys = Seq("event_type", "year", "month", "day")
    val fresh =
      if (partDirs.isEmpty) legacy
      else JdbcSink.newRowsOnly(legacy,
        spark.read.option("basePath", goldPath).parquet(partDirs: _*)
          .select(keys.map(col): _*), keys)
    if (!fresh.isEmpty)
      fresh.write.mode("append").partitionBy("year", "month").parquet(goldPath)
    rootFiles.foreach(st => fs.delete(st.getPath, false))
    spark.catalog.refreshByPath(goldPath)
  }

  /** Column defs parsed back out of the DDLs above: name → SQL type.
    * Used only for upgrade-time ALTERs, so NOT NULL is intentionally
    * dropped — rows predating the column hold null until backfilled. */
  private def ddlColumns(ddl: String): Seq[(String, String)] = {
    val colDef = """"([a-z_]+)"\s+([A-Z]+(?:\(\d+(?:,\d+)?\))?)""".r
    colDef.findAllMatchIn(ddl).map(m => m.group(1) -> m.group(2)).toSeq
  }

  /** Derby-side rebuild of the generated period columns for rows that
    * predate them (the reference computes these as GENERATED columns,
    * schema.sql:106/:151-153; here they're engine-computed at load, so an
    * upgraded table must backfill history once). CAST(100+m AS CHAR(3))
    * then SUBSTR(...,2) is Derby's zero-pad idiom. */
  private val derbyDateFromYmd =
    """DATE(TRIM(CAST("year" AS CHAR(4))) || '-' ||""" +
      """ SUBSTR(CAST(100 + "month" AS CHAR(3)), 2) || '-' ||""" +
      """ SUBSTR(CAST(100 + "day" AS CHAR(3)), 2))"""
  private val columnBackfills: Map[(String, String), String] = Map(
    ("GOLD_EVENTS_DAILY", "date") -> derbyDateFromYmd,
    ("GOLD_EVENTS_HOURLY", "datetime") ->
      s"""TIMESTAMP($derbyDateFromYmd, TIME(SUBSTR(CAST(100 + "hour" AS CHAR(3)), 2) || ':00:00'))""")

  /** Create missing Gold tables; EVOLVE existing ones. A warehouse created
    * by an older release may lack columns the current append frame carries
    * (e.g. `date` on gold_events_daily) and the JDBC append would then fail
    * at runtime with no ALTER story — so on startup, diff the live schema
    * against the DDL, ADD COLUMN the gap, and backfill generated period
    * columns from year/month/day. The backfill runs UNCONDITIONALLY for
    * every known backfillable column on every startup (it is an idempotent
    * `... WHERE col IS NULL` UPDATE): tying it to the ALTER would leave the
    * column permanently null after a crash between ALTER and UPDATE — the
    * next startup would see the column present and never backfill. */
  private[graft] def ensureGoldTables(url: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    def update(sql: String): Unit = {
      val st = c.createStatement()
      try st.executeUpdate(sql) finally st.close()
    }
    try goldDdls.foreach { case (name, ddl) =>
      val meta = c.getMetaData.getTables(null, null, name, null)
      if (!meta.next()) update(ddl)
      else {
        val existing = {
          val rs = c.getMetaData.getColumns(null, null, name, null)
          val b = Set.newBuilder[String]
          while (rs.next()) b += rs.getString("COLUMN_NAME").toLowerCase
          b.result()
        }
        ddlColumns(ddl).filterNot { case (col, _) => existing(col) }.foreach {
          case (col, typ) => update(s"""ALTER TABLE $name ADD COLUMN "$col" $typ""")
        }
        columnBackfills.foreach { case ((table, col), expr) =>
          if (table == name)
            update(s"""UPDATE $name SET "$col" = $expr WHERE "$col" IS NULL""")
        }
      }
    } finally c.close()
  }
}
