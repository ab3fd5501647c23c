package perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Metrics

/** Traced-run recorder: Spark job/stage/task spans and counters, query
  * planning phases, and the program's own `Metrics.Ledger` scan counts,
  * all keyed by the benchmark operation that was current when the event
  * was delivered. Operations run one at a time and the listener bus is
  * drained at each boundary, so that attribution is exact. Spans stay in
  * memory until `write` dumps them at exit. */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  @volatile private var op: Int = -1
  private val jobs = mutable.Map.empty[Int, Job]           // by job id
  private val stageJob = mutable.Map.empty[Int, Int]       // stage id -> job id
  private val planning = mutable.Map.empty[Int, Double]    // op -> seconds
  private val spans = mutable.ArrayBuffer.empty[String]
  private val ledger = Metrics.attach(spark)

  private val phases = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
  }
  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(phases)

  private def plan(qe: QueryExecution): Unit = synchronized {
    val s = qe.tracker.phases.values.map(_.durationMs).sum / 1000.0
    if (op >= 0) planning(op) = planning.getOrElse(op, 0.0) + s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (op >= 0) {
      jobs(e.jobId) = Job(op, e.jobId, e.time, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Start attributing events to operation `id`. The scan ledger is
    * emptied first, so the harness's own probes between operations (the
    * Silver row counts after a traced run) are never charged to `id`. */
  def begin(id: Int): Unit = {
    BusDrain(spark.sparkContext)
    synchronized { op = id; ledger.clear() }
  }

  /** Stop attributing; return the Spark-level metrics of operation `id`
    * (which ran from `startMs` to `endMs`) and the jobs it ran. */
  def end(id: Int, startMs: Long, endMs: Long): (Map[String, Double], Seq[Job]) = {
    BusDrain(spark.sparkContext)
    synchronized {
      op = -1
      val js = jobs.values.filter(_.op == id).toSeq.sortBy(_.id)
      val scanRows = ledger.snapshot().map(_.scanRows).sum
      val covered = union(js.map(j => (j.start max startMs, j.end min endMs)))
      val m = Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> js.map(_.stages).sum.toDouble,
        "spark.tasks" -> js.map(_.tasks).sum.toDouble,
        "spark.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
        "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
        "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
        "spark.planning_s" -> planning.getOrElse(id, 0.0),
        "spark.driver_only_s" -> ((endMs - startMs) - covered) / 1000.0,
        "spark.scan_rows" -> scanRows.toDouble)
      js.foreach(j => spans += s"""{"op":$id,"job":${j.id},"start":${j.start},"end":${j.end},"tasks":${j.tasks}}""")
      (m, js)
    }
  }

  /** Record a non-Spark span (an operation or a ledger stage). */
  def span(id: Int, name: String, startMs: Long, endMs: Long): Unit = synchronized {
    spans += s"""{"op":$id,"span":"$name","start":$startMs,"end":$endMs}"""
  }

  def write(path: String): Unit = synchronized {
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      spans.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  final case class Job(op: Int, id: Int, start: Long, var end: Long) {
    var stages = 0; var tasks = 0; var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }

  /** Total length covered by the union of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
