package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `extra` holds counters the caller adds
  * after the call (rows written, pages, streaming progress). */
final case class SpanRec(name: String, t0Ms: Long, t1Ms: Long, wallS: Double,
                         cpuS: Double, error: Option[String],
                         extra: Map[String, Any] = Map.empty) {
  def ok: Boolean = error.isEmpty
  def toMap: Map[String, Any] = Map("name" -> name, "t0_ms" -> t0Ms,
    "t1_ms" -> t1Ms, "wall_s" -> wallS, "cpu_s" -> cpuS, "ok" -> ok,
    "error" -> error, "extra" -> extra)
}

/** Times calls into the engine. Untraced it only reads clocks; traced
  * it also tags every Spark job with the span's name (a local property
  * the stream threads inherit) and attributes job intervals and task
  * metrics to spans through a benchmark-owned SparkListener. Listener
  * events are drained after a span's clock has stopped, never inside. */
final class Spans(spark: SparkSession, val traced: Boolean,
                  watchQueries: Boolean = false) {
  private val SpanKey = "perfbench.span"
  val recs = ArrayBuffer[SpanRec]()

  private final class JobRec(val span: String, val start: Long) {
    @volatile var end: Long = -1L
  }
  private final class Agg {
    var cpuNs, gcMs, shuffleWrite, inputRows, tasks = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val executions = new ConcurrentLinkedQueue[QueryExecution]()

  if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SpanKey))).orNull
        if (span != null) {
          jobs.put(e.jobId, new JobRec(span, e.time))
          e.stageIds.foreach(stageSpan.put(_, span))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val span = stageSpan.get(e.stageId)
        val m = e.taskMetrics
        if (span != null && m != null) {
          val a = aggs.computeIfAbsent(span, _ => new Agg)
          a.synchronized {
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.inputRows += m.inputMetrics.recordsRead
            a.tasks += 1
          }
        }
      }
    })
    if (watchQueries)
      spark.listenerManager.register(new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          executions.add(qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
          executions.add(qe)
      })
  }

  /** Run `body` as span `name`; a throw is recorded, not rethrown. */
  def apply(name: String)(body: => Map[String, Any]): SpanRec = {
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(SpanKey, name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val c0 = Meters.cpuS()
    val (err, extra) =
      try (None, body)
      catch { case NonFatal(e) => (Some(e.toString), Map.empty[String, Any]) }
    val wall = (System.nanoTime() - n0) / 1e9
    val cpu = Meters.cpuS() - c0
    val t1 = System.currentTimeMillis()
    if (traced) {
      sc.setLocalProperty(SpanKey, null)
      PerfbenchDrain(sc)
    }
    val rec = SpanRec(name, t0, t1, wall, cpu, err, extra)
    recs += rec
    rec
  }

  /** Rows the parquet scans of files under a path containing `pathPart`
    * produced, over every query the session ran (read after the fact:
    * the scans' metrics are final once their jobs have ended). */
  def scanRows(pathPart: String): Long = {
    PerfbenchDrain(spark.sparkContext)
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = executions.asScala.toSeq.flatMap { qe =>
      helper.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(
              _.toString.contains(pathPart)) => s
      }
    }
    // by identity: equal plans of different queries are separate scans
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
    scans.foreach(seen.add)
    seen.asScala.toSeq.map(_.metrics("numOutputRows").value).sum
  }

  /** Job intervals and task-metric sums per span, for run.py to reduce. */
  def report(): Map[String, Any] = {
    if (traced) PerfbenchDrain(spark.sparkContext)
    Map(
      "spans" -> recs.map(_.toMap),
      "jobs" -> jobs.values.asScala.toSeq.map(j =>
        Map("span" -> j.span, "start_ms" -> j.start, "end_ms" -> j.end)),
      "tasks" -> aggs.asScala.map { case (k, a) => k -> Map(
        "task_cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
        "shuffle_write_bytes" -> a.shuffleWrite,
        "input_rows" -> a.inputRows, "tasks" -> a.tasks) })
  }
}
