package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.sinks.JdbcSink

/** End-to-end pipeline run against a temp warehouse + embedded Derby as
  * the Gold store: exercises streaming bronze ingest with checkpointing,
  * the cached silver fan-out, the idempotent anti-join gold load, the
  * quality gate, and the run ledger. */
class PipelineSpec extends SparkSpecBase {

  private def freshWarehouse(): String = {
    val wh = Files.createTempDirectory("graft-wh").toString
    Files.createDirectories(Paths.get(s"$wh/landing"))
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$wh/landing/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    wh
  }

  test("pipeline runs end-to-end: ingest → silver → gold → gate → ledger") {
    val wh = freshWarehouse()
    val url = s"jdbc:derby:memory:graft${System.nanoTime()};create=true"
    val notified = new scala.collection.mutable.ArrayBuffer[Pipeline.Report]
    val cfg = Pipeline.Config(sf, wh, Some(url),
      notifier = new StageRunner.Notifier {
        override def onSuccess(r: Pipeline.Report): Unit = notified += r
      })

    val r1 = Pipeline.run(spark, cfg)
    assert(notified.toSeq == Seq(r1), "success notification carries the report")
    assert(r1.bronzeRows == 1000, s"bronze ${r1.bronzeRows}")
    assert(r1.silverRows > 900 && r1.silverRows < 1000) // range filter trims some
    assert(r1.goldRowsLoaded > 0)
    assert(r1.duplicateKeys == 0 && r1.criticalNulls == 0)
    assert(r1.gatePassed)

    // ledger recorded SUCCESS for each stage
    val log = new JdbcSink.PipelineLog(url)
    Seq("bronze_ingest", "silver", "gold_load").foreach { stage =>
      val st = log.statusOf(r1.executionId, stage)
      assert(st.exists(_._1 == "SUCCESS"), s"$stage ledger: $st")
    }

    // re-run over the same warehouse: checkpoint skips ingested files,
    // gold anti-join loads zero new rows (idempotence)
    val r2 = Pipeline.run(spark, cfg)
    assert(r2.goldRowsLoaded == 0, s"second run loaded ${r2.goldRowsLoaded}")
    assert(r2.gatePassed)

    // gold daily table holds exactly one copy of the daily tier
    val gold = JdbcSink.readTable(spark, url, "gold_events_daily")
    assert(gold.count() == r1.goldRowsByTier._2)
  }

  test("gold load populates all three tiers and stays idempotent per tier") {
    val wh = freshWarehouse()
    val url = s"jdbc:derby:memory:graft${System.nanoTime()};create=true"
    val r1 = Pipeline.run(spark, Pipeline.Config(sf, wh, Some(url)))
    val (det, day, hr) = r1.goldRowsByTier
    assert(det > 900 && det == r1.silverRows, s"detailed tier $det")
    assert(day > 0 && hr > day, s"daily $day, hourly $hr (hourly is finer grain)")
    Seq("gold_events_detailed" -> det, "gold_events_daily" -> day,
      "gold_events_hourly" -> hr).foreach { case (t, n) =>
      assert(JdbcSink.readTable(spark, url, t).count() == n, t)
    }
    val r2 = Pipeline.run(spark, Pipeline.Config(sf, wh, Some(url)))
    assert(r2.goldRowsByTier == ((0L, 0L, 0L)), s"re-run loaded ${r2.goldRowsByTier}")
  }

  test("quality gate tolerates nulls up to the 10% threshold, fails above") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 100 rows, distinct keys; n of them have a critical null value
    def frame(nullRows: Int) = (1 to 100).map { i =>
      (i.toLong, s"2024-01-01 00:00:${i % 60}", if (i <= nullRows) None else Some(i.toDouble))
    }.toDF("user_id", "ts", "value")
    val nine = Pipeline.gateMetrics(frame(9), Seq("user_id", "ts"),
      col("value").isNull)
    assert(nine == ((0L, 9L, 100L)), nine.toString)
    assert(nine._2.toDouble / nine._3 <= 0.10, "9% must pass the reference threshold")
    val eleven = Pipeline.gateMetrics(frame(11), Seq("user_id", "ts"),
      col("value").isNull)
    assert(eleven == ((0L, 11L, 100L)), eleven.toString)
    assert(eleven._2.toDouble / eleven._3 > 0.10, "11% must fail")
    // duplicate keys surface in the same single-pass metric
    val dup = frame(0).union(frame(0).limit(3))
    assert(Pipeline.gateMetrics(dup, Seq("user_id", "ts"), col("value").isNull)._1 == 3)
  }

  test("retention prunes expired bronze partitions + gold rows; ledger records cleanup") {
    import org.apache.spark.sql.functions._
    val wh = freshWarehouse()
    val url = s"jdbc:derby:memory:graft${System.nanoTime()};create=true"
    // events span 2024-01-01..30; asOf 2024-02-10 with bronzeDays=30 puts
    // the cutoff at 2024-01-11 → day dirs 1..10 expire AFTER processing;
    // goldDays=365 keeps every gold row (cutoff 2023-02-10)
    val keep = Pipeline.Retention(bronzeDays = 30, silverDays = 3650,
      goldDays = 365, asOf = java.time.LocalDate.of(2024, 2, 10))
    val r1 = Pipeline.run(spark, Pipeline.Config(sf, wh, Some(url),
      retention = Some(keep)))
    assert(r1.retentionDeleted == 10, s"10 expired bronze day dirs, got ${r1.retentionDeleted}")
    assert(!Files.exists(Paths.get(s"$wh/bronze/events/year=2024/month=1/day=10")))
    assert(Files.exists(Paths.get(s"$wh/bronze/events/year=2024/month=1/day=11")))
    val goldBefore = JdbcSink.readTable(spark, url, "gold_events_daily").count()
    assert(goldBefore > 0, "gold intact under the keep policy")
    val log = new JdbcSink.PipelineLog(url)
    assert(log.statusOf(r1.executionId, "cleanup_old_data").exists(_._1 == "SUCCESS"))

    // goldDays=20: the gold cutoff is asOf − 20 = 2024-01-21, on the same
    // clock as the parquet sweeps — exactly the rows dated before it go
    // (20 days × 5 event types in the daily tier); the bronze/silver
    // tiers have nothing left to sweep
    val cutoff = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-21T00:00:00Z"))
    val tiers = Seq("gold_events_detailed", "gold_events_daily", "gold_events_hourly")
    def sizes = tiers.map(t => JdbcSink.readTable(spark, url, t).count())
    val before = sizes
    val r2 = Pipeline.run(spark, Pipeline.Config(sf, wh, Some(url),
      retention = Some(keep.copy(goldDays = 20))))
    val expired = Seq(687L, 100L, 589L)
    assert(r2.retentionDeleted == expired.sum, s"deleted ${r2.retentionDeleted}")
    assert(sizes == before.zip(expired).map { case (n, e) => n - e })
    assert(JdbcSink.readTable(spark, url, "gold_events_detailed")
      .agg(min(col("ts"))).head().getTimestamp(0).compareTo(cutoff) >= 0)
    assert(JdbcSink.readTable(spark, url, "gold_events_daily")
      .agg(min(col("date"))).head().getDate(0).toString == "2024-01-21")

    // goldDays=1: every 2024-dated gold row is past retention → swept.
    // A fresh warehouse: a later run over the one above would re-load
    // the expired rows from Silver, whose every run re-appends it
    val wh2 = freshWarehouse()
    val url2 = s"jdbc:derby:memory:graft${System.nanoTime()};create=true"
    val r3 = Pipeline.run(spark, Pipeline.Config(sf, wh2, Some(url2),
      retention = Some(keep.copy(goldDays = 1))))
    tiers.foreach(t => assert(JdbcSink.readTable(spark, url2, t).count() == 0, t))
    assert(r3.retentionDeleted == 10 + r3.goldRowsLoaded, s"deleted ${r3.retentionDeleted}")
  }

  test("a run whose gold load fails leaves nothing cached") {
    val wh = freshWarehouse()
    val url = s"jdbc:derby:memory:graft${System.nanoTime()};create=true"
    // a pre-created Gold table whose schema rejects the append: an extra
    // NOT NULL column the pipeline never writes
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(
      """CREATE TABLE gold_events_detailed (
        |  "event_id" BIGINT NOT NULL, "ts" TIMESTAMP NOT NULL,
        |  "user_id" BIGINT, "event_type" VARCHAR(32), "value" DOUBLE,
        |  "data_quality_score" INT, "heat_index" DOUBLE,
        |  "owner" VARCHAR(16) NOT NULL)""".stripMargin)
    finally c.close()
    spark.catalog.clearCache()
    intercept[Exception](Pipeline.run(spark, Pipeline.Config(sf, wh, Some(url))))
    assert(spark.sharedState.cacheManager.isEmpty,
      "the enriched Silver frame outlived its failed run")
  }

  test("parquet-mode gold tier is partitioned and swept by goldDays") {
    val wh = freshWarehouse()
    // no jdbcUrl → gold lands as year/month-partitioned parquet; events
    // span 2024-01 only, so goldDays=1 @ asOf 2024-02-10 expires the
    // whole January partition (bronze/silver kept by their huge windows)
    val r = Pipeline.run(spark, Pipeline.Config(sf, wh, None,
      retention = Some(Pipeline.Retention(bronzeDays = 3650, silverDays = 3650,
        goldDays = 1, asOf = java.time.LocalDate.of(2024, 2, 10)))))
    assert(r.goldRowsByTier._2 > 0, "daily tier loaded before the sweep")
    assert(r.retentionDeleted == 1, s"one expired gold month dir, got ${r.retentionDeleted}")
    assert(!Files.exists(Paths.get(s"$wh/gold/events_daily/year=2024/month=1")))

    // keep policy leaves the partition in place
    val wh2 = freshWarehouse()
    val r2 = Pipeline.run(spark, Pipeline.Config(sf, wh2, None,
      retention = Some(Pipeline.Retention(bronzeDays = 3650, silverDays = 3650,
        goldDays = 3650, asOf = java.time.LocalDate.of(2024, 2, 10)))))
    assert(r2.retentionDeleted == 0)
    assert(Files.exists(Paths.get(s"$wh2/gold/events_daily/year=2024/month=1")))
  }

  test("parquet gold append reads the cached anti-join instead of re-running it") {
    import spark.implicits._
    val goldPath = Files.createTempDirectory("graft-gold-once").toString + "/events_daily"
    val d1 = Seq(("click", 2024, 1, 1, 1.0), ("click", 2024, 1, 2, 2.0))
      .toDF("event_type", "year", "month", "day", "avg_value")
    assert(Pipeline.parquetGoldLoad(spark, d1, goldPath) == 2)
    // overlap + one new row → the anti-join path with a nonzero append
    val d2 = d1.union(Seq(("view", 2024, 1, 3, 3.0))
      .toDF("event_type", "year", "month", "day", "avg_value"))
    val plans = new scala.collection.mutable.ArrayBuffer[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(Pipeline.parquetGoldLoad(spark, d2, goldPath) == 1)
      // listener delivery is async — poll for the write command's plan
      val deadline = System.currentTimeMillis() + 20000
      def writePlan: Option[String] = plans.synchronized(
        plans.find(_.contains("InsertIntoHadoopFsRelationCommand")))
      while (writePlan.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val wp = writePlan.getOrElse(fail("no write plan captured"))
      // without the persist, the append's plan re-runs the anti-join and
      // the existing-keys gold scan; with it, the write is a cache read
      assert(wp.contains("InMemoryTableScan"),
        s"append must read the cached anti-join result:\n$wp")
      // the InMemoryRelation node embeds the cached BUILD plan for display;
      // only what executes ABOVE the cache must be join-free
      val executing = wp.split("InMemoryRelation")(0)
      assert(!executing.contains("Join"), s"append re-ran the anti-join:\n$wp")
    } finally spark.listenerManager.unregister(listener)
  }

  test("legacy unpartitioned gold parquet migrates to the y/m layout, no dup rows") {
    val wh = freshWarehouse()
    val cfg = Pipeline.Config(sf, wh, None)
    val r1 = Pipeline.run(spark, cfg)
    val goldPath = s"$wh/gold/events_daily"
    val rows = spark.read.parquet(goldPath).collect()
    // rewrite the gold tier the way the pre-partitioned release laid it
    // out: bare part files at the root
    val tmp = Files.createTempDirectory("gold-legacy").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq),
        spark.read.parquet(goldPath).schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(goldPath))
    Files.createDirectories(Paths.get(goldPath))
    Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet")).forEach { p =>
      Files.copy(p, Paths.get(goldPath, p.getFileName.toString))
    }
    // second run must migrate the legacy files BEFORE appending; the
    // anti-join then sees every existing key and loads zero new rows
    val r2 = Pipeline.run(spark, cfg)
    assert(r2.goldRowsByTier._2 == 0, s"legacy rows re-appended: ${r2.goldRowsByTier}")
    val root = Paths.get(goldPath)
    assert(!Files.list(root).anyMatch(p => p.toString.endsWith(".parquet")),
      "bare root part files must be gone after migration")
    assert(Files.exists(Paths.get(s"$goldPath/year=2024")), "partitioned layout present")
    assert(spark.read.parquet(goldPath).count() == r1.goldRowsByTier._2,
      "migration preserves exactly the legacy rows")
  }

  test("ensureGoldTables evolves a pre-'date' warehouse: ADD COLUMN + backfill") {
    val url = s"jdbc:derby:memory:graft${System.nanoTime()};create=true"
    val c = java.sql.DriverManager.getConnection(url)
    // a previous-release daily table: no "date" column; hourly: no "datetime"
    c.createStatement().executeUpdate(
      """CREATE TABLE gold_events_daily (
        |  "event_type" VARCHAR(32), "year" INT, "month" INT, "day" INT,
        |  "avg_value" DOUBLE, "min_value" DOUBLE, "max_value" DOUBLE,
        |  "sum_value" DOUBLE, "record_count" BIGINT, "distinct_users" BIGINT
        |)""".stripMargin)
    c.createStatement().executeUpdate(
      """INSERT INTO gold_events_daily VALUES ('click', 2024, 3, 5, 1.0, 0.0, 2.0, 10.0, 7, 3)""")
    c.createStatement().executeUpdate(
      """CREATE TABLE gold_events_hourly (
        |  "event_type" VARCHAR(32), "year" INT, "month" INT, "day" INT,
        |  "hour" INT, "avg_value" DOUBLE, "min_value" DOUBLE,
        |  "max_value" DOUBLE, "record_count" BIGINT, "distinct_users" BIGINT
        |)""".stripMargin)
    c.createStatement().executeUpdate(
      """INSERT INTO gold_events_hourly VALUES ('click', 2024, 3, 5, 7, 1.0, 0.0, 2.0, 7, 3)""")

    Pipeline.ensureGoldTables(url)

    val d = c.createStatement().executeQuery(
      """SELECT "date" FROM gold_events_daily""")
    assert(d.next() && d.getDate(1).toString == "2024-03-05",
      "date column added and backfilled from year/month/day")
    val h = c.createStatement().executeQuery(
      """SELECT "datetime" FROM gold_events_hourly""")
    assert(h.next() && h.getTimestamp(1).toString.startsWith("2024-03-05 07:00:00"),
      "datetime column added and backfilled from year/month/day/hour")
    // idempotent: a second call finds nothing to evolve
    Pipeline.ensureGoldTables(url)
    c.close()
  }

  test("date-scoped run prunes bronze partitions declaratively") {
    val wh = freshWarehouse()
    val cfg = Pipeline.Config(sf, wh, None,
      date = Some(java.time.LocalDate.of(2024, 1, 5)))
    val r = Pipeline.run(spark, cfg)
    assert(r.bronzeRows > 0 && r.bronzeRows < 100, s"one day ≈ 33 rows, got ${r.bronzeRows}")
    assert(r.gatePassed)
  }

  test("tolerant bronze read skips a corrupt file instead of failing the run") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt").toString
    Tables.events(spark, sf).limit(100).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    // a half-written producer file: parquet magic header, then garbage
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part-junk.parquet"),
      ("PAR1" + "x" * 64).getBytes)
    val schema = spark.read.parquet(dir + "/" +
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-0")).head.getName).schema
    intercept[Exception] {
      spark.read.schema(schema).parquet(dir).count() // strict read must fail
    }
    val tolerant = graft.sources.Bronze.readBronzeTolerant(spark, dir, schema)
    assert(tolerant.count() == 100, "tolerant read must return the intact file's rows")
  }

  test("schema-evolved read merges an added column; old rows surface it as null") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    val ev = Tables.events(spark, sf)
    ev.limit(50).select(col("event_id"), col("user_id"))
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    ev.limit(30).select(col("event_id"), col("user_id"), lit("eu-west").as("region"))
      .write.mode("overwrite").parquet(s"$dir/batch=2")
    val merged = graft.sources.Bronze.readBronzeEvolved(spark, dir)
    assert(merged.columns.toSet == Set("event_id", "user_id", "region", "batch"))
    assert(merged.count() == 80)
    assert(merged.filter(col("region").isNull).count() == 50,
      "pre-evolution rows must carry null for the added column")
    assert(merged.filter(col("region") === "eu-west").count() == 30)
  }

  test("compaction collapses per-task file fragments, preserving content") {
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("graft-compact-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-compact-out").toString
    // 12 fragments per partition directory (one per shuffle task)
    Tables.events(spark, sf).repartition(12)
      .write.mode("overwrite").partitionBy("event_type").parquet(in)
    def files(p: String) = {
      val fs = new java.io.File(p)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(fs).filter(_.getName.endsWith(".parquet"))
    }
    val before = files(in).size
    graft.sources.Bronze.compact(spark, in, out, Seq("event_type"))
    val after = files(out).size
    assert(before >= 5 * 12, s"fixture should fragment: $before files")
    assert(after < before / 4, s"compaction barely helped: $before -> $after")
    val a = spark.read.parquet(in).orderBy("event_id").collect().toSeq
    val b = spark.read.parquet(out).select(spark.read.parquet(in).columns.map(col).toIndexedSeq: _*)
      .orderBy("event_id").collect().toSeq
    assert(a == b, "compaction must not change content")
  }
}
