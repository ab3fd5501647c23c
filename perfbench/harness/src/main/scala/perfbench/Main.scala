package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.DriverManager
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{Pipeline, Scheduler, SparkEntry}

/** Runs one workload over inputs `gen.py` wrote and writes the raw
  * measurements as JSON; `run.py` turns them into metrics.
  *
  *   Main <workload> <inputDir> <workDir> <trace 0|1> <out.json>
  *
  * A pipeline operation is one `Pipeline.run` against a Derby Gold
  * database in memory; a query operation is one `SparkEntry.queries`
  * entry written to parquet. Each is timed on its own; the check of its
  * output, the ledger read and the storage walk all happen after the
  * clock stops. */
object Main {
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, traceFlag, out) = args
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = if (traceFlag == "1") Some(new Trace(spark)) else None
    val man = json.readTree(new File(input, "manifest.json"))
    val b = new Bench(spark, trace, new File(input), new File(work), man)
    val result = workload match {
      case "pipeline_hourly" => b.hourly()
      case "query_suite" =>
        graft.plans.GraftExtensions.register(spark) // as graft.Bench runs the queries
        b.querySuite()
      case w => sys.error(s"unknown workload $w")
    }
    trace.foreach(_.write(s"$work/trace_spans.jsonl"))
    spark.stop()
    Files.write(Paths.get(out), json.writeValueAsBytes(result + ("session_s" -> sessionS)))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One ledger row (one stage attempt) of `pipeline_execution_log`. */
final case class StageRow(stage: String, start: Long, end: Long, secs: Double)

final class Bench(spark: SparkSession, trace: Option[Trace], input: File,
    work: File, man: JsonNode) {

  private val asOf = LocalDate.parse(man.get("as_of").asText)
  private val anchorMs = man.get("anchor_us").asLong / 1000
  private val landedBytes = man.get("landed_bytes").asLong
  private var nextOp = 0
  private var fired = 0L
  private var skipped = 0L
  private var failures = Vector.empty[String]

  // ---- workloads -----------------------------------------------------

  /** An unmeasured cold run over a prefix of the history, in a warehouse
    * and Derby of its own, warms the JIT. Then, measured: the cold run
    * over the whole history (the batch run: Bronze ingest, the full Silver
    * pass and the Gold bulk insert), every generated hour as a scheduler
    * tick, and one tick with nothing landed (an idempotent replay). The
    * history reaches past Bronze's 30-day tier and retention is on
    * throughout. Every run does the generator's fixed amount of work. */
  def hourly(): Map[String, Any] = {
    val (_, warm) = timed {
      val (wh, url, cfg) = warehouse("warmup")
      land(wh, man.get("warmup").asText)
      op("warmup", url, wh, man.get("warmup_cold"), measured = false)(Pipeline.run(spark, cfg))
      dropDerby("warmup")
      delete(wh)
    }
    val (wh, url, cfg) = warehouse("hourly")
    land(wh, man.get("history").asText)
    var now = anchorMs
    val scheduler = new Scheduler(3600000L, () => now, ms => now += ms)
    def tick(h: Int): Pipeline.Report = {
      now = anchorMs + (h + 1) * 3600000L - 1
      scheduler.loop(1)(Pipeline.run(spark, cfg)).head.outcome match {
        case Some(Right(r)) => fired += 1; r
        case Some(Left(e)) => fired += 1; throw e
        case None => skipped += 1; sys.error("tick skipped")
      }
    }
    val gc0 = gcSeconds()
    val cold = op("cold", url, wh, man.get("cold"), measured = true)(Pipeline.run(spark, cfg))
    val ticks = man.get("ticks").elements().asScala.toVector
    val ops = ticks.zipWithIndex.map { case (t, h) =>
      land(wh, t.get("file").asText)
      op("tick", url, wh, t.get("expect"), measured = true)(tick(h))
    }
    val replay = op("replay", url, wh, man.get("replay"), measured = true)(tick(ticks.size))
    val bytes = storage(wh).filter(_._1 != "landing").values.map(_._2).sum
    finish(cold +: ops :+ replay, gc0) ++ Map("warmup_s" -> warm, "storage_bytes" -> bytes)
  }

  /** A fresh warehouse directory and in-memory Derby Gold named `name`,
    * with retention at the generator's as-of date. */
  private def warehouse(name: String): (File, String, Pipeline.Config) = {
    val wh = new File(work, name)
    val url = s"jdbc:derby:memory:$name;create=true"
    (wh, url, Pipeline.Config(sourceDir = s"$wh/landing", warehouseDir = wh.toString,
      jdbcUrl = Some(url), retention = Some(Pipeline.Retention(asOf = asOf))))
  }

  /** The query suite: every query once, unmeasured (the warm-up: each
    * query's first run pays its code generation), then one measured pass
    * over every query in the manifest's order, then two more passes over
    * the silver_* queries on the same input (the replays). Each operation writes one query's
    * result to a parquet directory of its own; `run.py` compares every
    * directory with the query's DuckDB oracle after the run. */
  def querySuite(): Map[String, Any] = {
    val names = man.get("queries").elements().asScala.map(_.asText).toVector
    val results = new File(work, "results")
    def query(kind: String, pass: String, n: String, measured: Boolean) =
      queryOp(kind, n, new File(results, s"$pass/$n"), measured)
    val (warmOps, warm) = timed(names.map(query("warmup", "warmup", _, measured = false)))
    val gc0 = gcSeconds()
    val ops = names.map(query("query", "pass", _, measured = true)) ++
      Seq("replay1", "replay2").flatMap(p =>
        names.filter(_.startsWith("silver_")).map(query("replay", p, _, measured = true)))
    val bytes = storage(results)("pass")._2
    finish(warmOps ++ ops, gc0) ++ Map("warmup_s" -> warm, "storage_bytes" -> bytes,
      "oracle" -> names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
  }

  // ---- one operation ---------------------------------------------------

  /** Run `body` as operation `id` between two clock readings; with
    * tracing, bracket it so the Spark events it causes land on `id`. */
  private def timedOp[T](id: Int)(body: => T): (Try[T], Double, Long, Long,
      Option[(Map[String, Double], Seq[Trace.Job])]) = {
    trace.foreach(_.begin(id))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = Try(body)
    val secs = (System.nanoTime() - t0) / 1e9
    val endMs = startMs + (secs * 1000).toLong
    (res, secs, startMs, endMs, trace.map(_.end(id, startMs, endMs)))
  }

  private def nextId(): Int = { nextOp += 1; nextOp - 1 }

  /** Time one query written to `dir`; with tracing, its Spark metrics
    * plus `query.<name>_s`. Its output is checked by `run.py`. */
  private def queryOp(kind: String, name: String, dir: File,
      measured: Boolean): Map[String, Any] = {
    val id = nextId()
    val (res, secs, startMs, endMs, spark0) = timedOp(id)(
      SparkEntry.queries(name)(spark, input.toString).write.parquet(dir.toString))
    res.failed.foreach(e => failures :+= s"$name#$id: ${e.getClass.getSimpleName}: ${e.getMessage}")
    trace.foreach(_.span(id, name, startMs, endMs))
    Map("kind" -> kind, "query" -> name, "dir" -> dir.toString, "s" -> secs,
      "measured" -> measured, "ok" -> res.isSuccess,
      "layers" -> spark0.fold(Map.empty[String, Double])(_._1 + (s"query.${name}_s" -> secs)))
  }

  /** Time one `Pipeline.run`, then (clock stopped) check its report
    * against `expect` and read its ledger; with tracing, add the
    * per-layer metrics. */
  private def op(kind: String, url: String, wh: File, expect: JsonNode,
      measured: Boolean)(body: => Pipeline.Report): Map[String, Any] = {
    val id = nextId()
    val (res, secs, startMs, endMs, spark0) = timedOp(id)(body)
    val base = Map[String, Any]("kind" -> kind, "s" -> secs, "measured" -> measured)
    res match {
      case Failure(e) =>
        failures :+= s"$kind#$id: ${e.getClass.getSimpleName}: ${e.getMessage}"
        base + ("ok" -> false)
      case Success(r) =>
        val bad = check(r, expect)
        bad.foreach(m => failures :+= s"$kind#$id: $m")
        val stages = ledger(url, r.executionId)
        val silverS = stages.filter(_.stage == "silver").map(_.secs).sum
        val layers = spark0.fold(Map.empty[String, Double]) { case (sparkM, jobs) =>
          trace.foreach { t =>
            t.span(id, kind, startMs, endMs)
            stages.foreach(s => t.span(id, s.stage, s.start, s.end))
          }
          sparkM ++ layerMetrics(r, secs, stages, jobs, wh)
        }
        base ++ Map("ok" -> bad.isEmpty, "silver_rows" -> r.silverRows,
          "silver_stage_s" -> silverS, "layers" -> layers)
    }
  }

  private def check(r: Pipeline.Report, e: JsonNode): Option[String] = {
    val g = e.get("gold").elements().asScala.map(_.asLong).toSeq
    val want = Seq(
      "bronze" -> (r.bronzeRows, e.get("bronze").asLong),
      "silver" -> (r.silverRows, e.get("silver").asLong),
      "gold_detailed" -> (r.goldRowsByTier._1, g(0)),
      "gold_daily" -> (r.goldRowsByTier._2, g(1)),
      "gold_hourly" -> (r.goldRowsByTier._3, g(2))) ++
      Option(e.get("deleted")).filterNot(_.isNull)
        .map(d => "retention_deleted" -> (r.retentionDeleted, d.asLong))
    val diffs = want.collect { case (k, (got, exp)) if got != exp => s"$k=$got (want $exp)" }
    val all = if (r.gatePassed) diffs else diffs :+ "gate failed"
    if (all.isEmpty) None else Some(all.mkString(", "))
  }

  /** Per-layer metrics of one traced operation: ledger stage durations,
    * Spark jobs attributed to the stage whose ledger window holds their
    * start, warehouse bytes/files per tier, and Gold rows offered. */
  private def layerMetrics(r: Pipeline.Report, secs: Double, stages: Seq[StageRow],
      jobs: Seq[Trace.Job], wh: File): Map[String, Double] = {
    def stage(name: String) = stages.filter(_.stage == name)
    def secsOf(name: String) = stage(name).map(_.secs).sum
    def jobsIn(name: String) = jobs.filter(j => stage(name).exists(s =>
      j.start >= s.start && j.start <= s.end))
    def selfS(name: String) = secsOf(name) -
      Trace.union(jobsIn(name).map(j => (j.start, j.end))) / 1000.0
    val store = storage(wh)
    val silverJobs = jobsIn("silver")
    val offered = Seq("events_cleaned", "events_daily_agg", "events_hourly_agg")
      .map(t => spark.read.parquet(s"$wh/silver/$t").count()).sum.toDouble
    Map(
      "bronze.ingest_s" -> secsOf("bronze_ingest"),
      "bronze.self_s" -> selfS("bronze_ingest"),
      "bronze.rows" -> r.bronzeRows.toDouble,
      "bronze.files" -> store("bronze")._1.toDouble,
      "bronze.bytes" -> store("bronze")._2.toDouble,
      "bronze.jobs" -> jobsIn("bronze_ingest").size.toDouble,
      "silver.s" -> secsOf("silver"),
      "silver.self_s" -> selfS("silver"),
      "silver.rows" -> r.silverRows.toDouble,
      "silver.files" -> store("silver")._1.toDouble,
      "silver.bytes" -> store("silver")._2.toDouble,
      "silver.shuffle_write_bytes" -> silverJobs.map(_.shuffleWrite).sum.toDouble,
      "silver.spill_bytes" -> silverJobs.map(_.spill).sum.toDouble,
      "silver.jobs" -> silverJobs.size.toDouble,
      "gold.load_s" -> secsOf("gold_load"),
      "gold.self_s" -> selfS("gold_load"),
      "gold.rows_offered" -> offered,
      "gold.rows_loaded" -> r.goldRowsLoaded.toDouble,
      "gold.load_yield" -> (if (offered > 0) r.goldRowsLoaded / offered else 0.0),
      "retention.s" -> secsOf("cleanup_old_data"),
      "retention.deleted" -> r.retentionDeleted.toDouble,
      "pipeline.unstaged_s" -> (secs - stages.map(_.secs).sum),
      "stagerunner.attempts" -> stages.size.toDouble,
      "stagerunner.retries" -> (stages.size - stages.map(_.stage).distinct.size).toDouble)
  }

  // ---- probes ----------------------------------------------------------

  private def ledger(url: String, executionId: String): Seq[StageRow] = {
    val c = DriverManager.getConnection(url)
    try {
      val ps = c.prepareStatement(
        """SELECT stage, started_at, finished_at, duration_secs
          |FROM pipeline_execution_log WHERE execution_id = ?""".stripMargin)
      ps.setString(1, executionId)
      val rs = ps.executeQuery()
      val b = Vector.newBuilder[StageRow]
      while (rs.next()) b += StageRow(rs.getString(1),
        rs.getTimestamp(2).getTime, rs.getTimestamp(3).getTime, rs.getDouble(4))
      b.result()
    } finally c.close()
  }

  /** Files and bytes per top-level warehouse directory (bronze, silver,
    * gold, checkpoints, landing). */
  private def storage(wh: File): Map[String, (Long, Long)] =
    Option(wh.listFiles()).toSeq.flatten.filter(_.isDirectory).map { d =>
      val files = Files.walk(d.toPath).iterator().asScala
        .filter(p => Files.isRegularFile(p)).toSeq
      d.getName -> (files.size.toLong, files.map(Files.size).sum)
    }.toMap.withDefaultValue((0L, 0L))

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Measured-window totals shared by both workloads. */
  private def finish(ops: Seq[Map[String, Any]], gc0: Double): Map[String, Any] = {
    val gc = gcSeconds() - gc0
    spark.catalog.clearCache()
    org.apache.spark.BusDrain(spark.sparkContext)
    val rt = Runtime.getRuntime
    // GC, then give Spark's ContextCleaner time to release the shuffle and
    // broadcast state the GC just made unreachable; the last reading is
    // what the run really retains
    val heap = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.last
    Map("ops" -> ops, "gc_s" -> gc, "failures" -> failures,
      "heap_retained_mb" -> heap,
      "ticks_fired" -> fired, "ticks_skipped" -> skipped,
      "landed_bytes" -> landedBytes)
  }

  // ---- helpers -------------------------------------------------------

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def land(wh: File, name: String): Unit = {
    val dir = new File(wh, "landing")
    dir.mkdirs()
    Files.copy(new File(input, name).toPath, new File(dir, name).toPath,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def dropDerby(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
    catch { case _: java.sql.SQLException => () } // a successful drop throws 08006

  private def delete(f: File): Unit = {
    val p: Path = f.toPath
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}
