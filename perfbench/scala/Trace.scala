package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer; `parent` is the enclosing span (-1 for
  * none) and `op` the closed-loop op it belongs to. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, var end: Long)

/** In-memory span recorder for the traced run. The benchmark drives the
  * program from one client thread, so spans nest on a plain stack. When
  * disabled every call is a pass-through and nothing is recorded. */
final class Tracer(var enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  @volatile var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), op,
        System.nanoTime(), -1L)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  def json: Seq[Json.Obj] = spans.toSeq.map(s => Json.Obj(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
    "start_ns" -> s.start, "end_ns" -> s.end))
}

/** Spark listener counters, attributed to the op the tracer says is
  * running. The traced run drains the bus after every op, so each event
  * is delivered before the op id moves on. Jobs additionally carry the
  * op's job group. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  private val sums = mutable.Map[Int, mutable.Map[String, Long]]()
  private val jobs = ArrayBuffer[Json.Obj]()
  private val stageTasks = mutable.Map[(Int, Int, Int), ArrayBuffer[Long]]()

  private def add(op: Int, kvs: (String, Long)*): Unit = synchronized {
    val m = sums.getOrElseUpdate(op, mutable.Map[String, Long]().withDefaultValue(0L))
    kvs.foreach { case (k, v) => m(k) += v }
  }

  private val jobStart = mutable.Map[Int, (Int, Long, String)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStart(e.jobId) = (tracer.op, e.time, group)
    add(tracer.op, "jobs" -> 1L, "stages" -> e.stageInfos.size.toLong)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, start, group) =>
      jobs += Json.Obj("job" -> e.jobId, "op" -> op, "group" -> group,
        "start_ms" -> start, "end_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    if (info.attemptNumber() > 0) {
      add(tracer.op, "stage_retries" -> 1L)
      if (Bus.isShuffleMap(info)) add(tracer.op, "map_recomputes" -> 1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = tracer.op
    val failed = e.reason != org.apache.spark.Success
    add(op, "tasks" -> 1L, "task_failures" -> (if (failed) 1L else 0L))
    val m = e.taskMetrics
    if (e.taskInfo != null) {
      add(op, "task_duration_ms" -> e.taskInfo.duration)
      synchronized {
        stageTasks.getOrElseUpdate((op, e.stageId, e.stageAttemptId), ArrayBuffer()) +=
          e.taskInfo.duration
      }
    }
    if (m != null) {
      val w = m.shuffleWriteMetrics
      val r = m.shuffleReadMetrics
      add(op,
        "task_run_ms" -> m.executorRunTime,
        "task_cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "shuffle_write_bytes" -> w.bytesWritten,
        "shuffle_write_records" -> w.recordsWritten,
        "shuffle_write_ns" -> w.writeTime,
        "shuffle_read_bytes" -> r.totalBytesRead,
        "shuffle_remote_bytes" -> r.remoteBytesRead,
        "shuffle_fetch_wait_ms" -> r.fetchWaitTime)
    }
  }

  def json: Json.Obj = synchronized {
    Json.Obj(
      "per_op" -> sums.map { case (op, m) => op.toString -> m.toMap },
      "jobs" -> jobs.toSeq,
      "stage_tasks" -> stageTasks.toSeq.map { case ((op, st, at), ds) =>
        Json.Obj("op" -> op, "stage" -> st, "attempt" -> at, "task_ms" -> ds.toSeq)
      })
  }
}

/** Catalyst phase times of every query execution (the benchmark's own and
  * the ones the program runs internally, e.g. inside a commit or an MV
  * refresh) from `QueryPlanningTracker`, plus the manifest scan counters
  * of each execution's physical plan. */
final class PlanListener(tracer: Tracer) extends QueryExecutionListener {
  private val execs = ArrayBuffer[Json.Obj]()

  private def scans(p: SparkPlan): Seq[BatchScanExec] = p.collectWithSubqueries {
    case b: BatchScanExec if b.scan.description().contains("graft-manifest") => Seq(b)
    case q: QueryStageExec => scans(q.plan)
  }.flatten

  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = try {
    val phases = qe.tracker.phases.map { case (k, v) => k -> Seq(v.startTimeMs, v.endTimeMs) }
    val root = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = scans(root)
    def metric(n: String): Long = scan.flatMap(_.metrics.get(n)).map(_.value).sum
    synchronized {
      execs += Json.Obj("op" -> tracer.op, "func" -> func, "ok" -> ok,
        "phases" -> phases,
        "manifest_scans" -> scan.size,
        "files_listed" -> metric("filesListed"),
        "files_skipped" -> metric("filesSkipped"),
        "files_planned" -> metric("filesPlanned"))
    }
  } catch {
    case e: Exception => synchronized {
      execs += Json.Obj("op" -> tracer.op, "func" -> func, "ok" -> false,
        "error" -> e.toString)
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, ok = true)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe, ok = false)

  def json: Seq[Json.Obj] = synchronized(execs.toSeq)
}
