package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run instrumentation, all from outside the engine: spans around
  * the benchmark's own calls into each layer, a SparkListener for jobs,
  * stages and task metrics, and a QueryExecutionListener for the planning
  * phases and the final (post-AQE) physical plan. Only events inside the
  * timed window count; spans are held in memory and written at exit.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Span

  private val spans = ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val ids = new AtomicLong(0L)
  @volatile private var recording = false
  @volatile private var windowStartMs = Long.MaxValue
  @volatile private var windowEndMs = Long.MaxValue
  @volatile private var lastEventMs = System.currentTimeMillis()

  private val totals = scala.collection.mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  // job id -> (start ms, operation span id, fired while constructing)
  private val jobStart = scala.collection.mutable.Map[Int, (Long, Long, Boolean)]()
  private val jobs = ArrayBuffer[Tracer.Job]()

  private def add(k: String, v: Double): Unit = totals.synchronized { totals(k) += v }
  private def inWindow(ms: Long): Boolean = ms >= windowStartMs && ms <= windowEndMs

  /** Id of this thread's innermost open span (0 outside any span). */
  def currentId: Long = open.get.headOption.map(_.id).getOrElse(0L)

  def span[T](name: String, label: String = "")(body: => T): T = {
    val stack = open.get
    val id = ids.incrementAndGet()
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val op = stack.lastOption.map(_.id).getOrElse(id)
    val s0 = Span(name, label, id, parent, op, Thread.currentThread.getName, System.nanoTime(), 0L)
    open.set(s0 :: stack)
    try body
    finally {
      open.set(stack)
      if (recording) spans.synchronized { spans += s0.copy(endNs = System.nanoTime()) }
    }
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventMs = System.currentTimeMillis()
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .getOrElse("").split(",")
      val op = tags.find(_.startsWith(Tracer.OpTag))
        .map(_.stripPrefix(Tracer.OpTag).toLong).getOrElse(0L)
      jobStart.synchronized {
        jobStart(e.jobId) = (e.time, op, tags.contains(Tracer.ConstructTag))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      jobStart.synchronized(jobStart.remove(e.jobId)).foreach { case (t0, op, construct) =>
        if (inWindow(t0)) jobs.synchronized { jobs += Tracer.Job(t0, e.time, op, construct) }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventMs = System.currentTimeMillis()
      if (e.stageInfo.submissionTime.exists(inWindow)) add("stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      if (!inWindow(e.taskInfo.launchTime)) return
      add("tasks", 1)
      if (e.reason != Success) add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m == null) return
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("task_run_s", m.executorRunTime / 1e3)
      add("task_gc_s", m.jvmGCTime / 1e3)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_write_s", m.shuffleWriteMetrics.writeTime / 1e9)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill_memory_bytes", m.memoryBytesSpilled.toDouble)
      add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
      add("scan_bytes_read", m.inputMetrics.bytesRead.toDouble)
      add("scan_records_read", m.inputMetrics.recordsRead.toDouble)
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      lastEventMs = System.currentTimeMillis()
      if (recording) planStats(qe)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      lastEventMs = System.currentTimeMillis()
  })

  private def planStats(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    add("optimize_s", phases.get("optimization").map(_.durationMs / 1e3).getOrElse(0.0))
    add("physical_s", phases.get("planning").map(_.durationMs / 1e3).getOrElse(0.0))
    Tracer.nodes(qe.executedPlan).foreach {
      case _: ShuffleExchangeExec => add("exchanges", 1)
      case _: BroadcastHashJoinExec => add("broadcast_joins", 1)
      case j: SortMergeJoinExec =>
        add("sort_merge_joins", 1); if (j.isSkewJoin) add("skew_splits", 1)
      case j: ShuffledHashJoinExec =>
        add("shuffled_hash_joins", 1); if (j.isSkewJoin) add("skew_splits", 1)
      case w: WholeStageCodegenExec =>
        add("wscg_stages", 1)
        if (w.child.exists(_.expressions.exists(_.exists(
            _.getClass.getName.startsWith("graft.functions")))))
          add("kernel_stage_s", w.metrics.get("pipelineTime").map(_.value / 1e3).getOrElse(0.0))
      case _ =>
    }
  }

  /** Wait until listener events stop arriving (the buses are asynchronous). */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() - lastEventMs < 300 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  def start(): Unit = { windowStartMs = System.currentTimeMillis(); recording = true }

  def stop(): Unit = {
    windowEndMs = System.currentTimeMillis()
    quiesce()
    recording = false
  }

  /** Raw window totals; `run.py` normalises them per operation. */
  def summary(): Map[String, Double] = totals.synchronized(totals.toMap)

  /** Every job started in the window, as [start ms, end ms, operation span
    * id, 1 if fired while constructing]; `run.py` attributes them. */
  def jobList(): Seq[Seq[Double]] = jobs.synchronized(jobs.toSeq).map { j =>
    Seq(j.startMs.toDouble, j.endMs.toDouble, j.op.toDouble, if (j.construct) 1.0 else 0.0)
  }

  def spansJsonl(): String = spans.synchronized(spans.toSeq).map { s =>
    val o = new Json.Obj
    o("name") = s.name; o("label") = s.label; o("id") = s.id; o("parent") = s.parent; o("op") = s.op
    o("thread") = s.thread; o("start_ns") = s.startNs; o("end_ns") = s.endNs
    o.render
  }.mkString("", "\n", "\n")
}

object Tracer {
  final case class Span(name: String, label: String, id: Long, parent: Long, op: Long,
      thread: String, startNs: Long, endNs: Long)
  final case class Job(startMs: Long, endMs: Long, op: Long, construct: Boolean)

  /** Job-tag prefix; the rest of the tag is the operation span's id. */
  val OpTag = "perfbench-op-"
  val ConstructTag = "perfbench-construct"

  /** Run `body` with a job tag on this thread (inherited by threads it starts). */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  /** Every node of a final physical plan, through AQE wrappers, query
    * stages and subqueries (a reused exchange counts once). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
