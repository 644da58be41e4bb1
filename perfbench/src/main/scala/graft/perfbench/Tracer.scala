package graft.perfbench

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedDeque, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener events use. `busyMs` is the time spent inside
  * the call itself when that differs from end − start (a store read is
  * consumed lazily, so its wall span includes the consumer's work).
  */
final case class Span(id: String, name: String, start: Double, end: Double, parent: String, op: String,
    busyMs: Double = -1) {
  def dur: Double = end - start
  def busy: Double = if (busyMs >= 0) busyMs else dur
}

/** The traced run's recorder. Operations are tagged with their id as the
  * Spark job group; the store decorators read it on the driver from the
  * thread's local properties and in tasks through
  * `TaskContext.getLocalProperty`. A [[SparkListener]] collects jobs,
  * stages and tasks, and each SQL execution's planning phases and scan
  * metrics. Everything stays in memory
  * until the run ends.
  */
final class Tracer(spark: SparkSession) extends CountingStore.Sink {
  import Tracer._
  def nowMs: Double = Main.Clock.nowMs

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()

  // ------------------------------------------------------------ store calls

  private val pending = new ConcurrentHashMap[String, ConcurrentLinkedDeque[Open]]()

  private def currentOp: (String, String) = {
    val tc = TaskContext.get()
    if (tc != null) {
      val op = tc.getLocalProperty(Tracer.GroupKey)
      (op, s"t${tc.taskAttemptId()}")
    } else {
      val op = spark.sparkContext.getLocalProperty(Tracer.GroupKey)
      (op, op)
    }
  }

  override def begin(layer: String, method: String, request: String): AnyRef = {
    val id = s"s${ids.incrementAndGet()}"
    val open =
      if (layer == "server") {
        // the client call that sent this request is still open
        val q = pending.get(request)
        val client = if (q == null) null else q.pollFirst()
        if (client == null) new Open(id, s"$layer.$method", nowMs, null, null, null)
        else new Open(id, s"$layer.$method", nowMs, client.id, client.op, null)
      } else {
        val (op, parent) = currentOp
        val o = new Open(id, s"$layer.$method", nowMs, parent, op, request)
        pending.computeIfAbsent(request, _ => new ConcurrentLinkedDeque[Open]()).addLast(o)
        o
      }
    open
  }

  override def end(handle: AnyRef, busyNs: Long): Unit = handle match {
    case o: Open =>
      if (o.request != null) {
        val q = pending.get(o.request)
        if (q != null) q.remove(o)
      }
      spans.add(Span(o.id, o.name, o.start, nowMs, o.parent, o.op, busyNs / 1e6))
    case _ => ()
  }

  def record(name: String, start: Double, end: Double, parent: String, op: String): Unit =
    spans.add(Span(s"s${ids.incrementAndGet()}", name, start, end, parent, op))

  // ------------------------------------------------------------- listeners

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  private val events = new AtomicLong()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val p = e.properties
      val group = if (p == null) null else p.getProperty(Tracer.GroupKey)
      val exec = Option(if (p == null) null else p.getProperty("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, JobRec(e.jobId, group, exec, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      events.incrementAndGet()
      e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
    }
    // the execution's QueryExecution rides on its end event (a field
    // Spark keeps package-private, hence reflection)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        events.incrementAndGet()
        end.getClass.getMethod("qe").invoke(end) match {
          case qe: QueryExecution => recordQe(end.executionId, qe)
          case _                  => ()
        }
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null)
        tasks.add(TaskRec(i.taskId, e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private def recordQe(execId: Long, qe: QueryExecution): Unit = {
    val t = qe.tracker
    val phases = t.phases.map { case (k, v) => k -> ((v.startTimeMs, v.endTimeMs)) }
    val push = t.rules.collect {
      case (k, v) if k.endsWith("V2ScanRelationPushDown") => v.totalTimeNs
    }.sum
    val scanRows =
      try Tracer.planNodes(qe.executedPlan).collect {
        case b: BatchScanExec => b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      catch { case _: Throwable => 0L }
    qes.add(QeRec(execId, phases, push, scanRows))
  }

  def install(): Unit = spark.sparkContext.addSparkListener(listener)

  def uninstall(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** Wait until the asynchronous listener bus has gone quiet. */
  def drain(): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.nanoTime() + 10000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = events.get()
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"

  private[perfbench] final class Open(val id: String, val name: String, val start: Double, val parent: String,
      val op: String, val request: String)

  final case class JobRec(id: Int, group: String, execId: Long, start: Long) {
    @volatile var end: Long = -1
  }
  final case class TaskRec(id: Long, stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class QeRec(execId: Long, phases: Map[String, (Long, Long)], pushdownNs: Long, scanRows: Long)


  /** Every physical node, descending into adaptive plans and query
    * stages (which `children` does not reach).
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _                        => p.children ++ p.subqueries
    }
    p +: inner.flatMap(planNodes)
  }

  /** Total length of the union of intervals. */
  def unionLength(iv: Iterable[(Double, Double)]): Double = {
    val sorted = iv.filter(x => x._2 > x._1).toSeq.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def clip(iv: (Double, Double), lo: Double, hi: Double): (Double, Double) =
    (math.max(iv._1, lo), math.min(iv._2, hi))
}

/** Per-layer figures of one traced phase set, computed from the
  * recorder after the listener bus has drained.
  */
object LayerReport {

  final case class OpRec(id: String, start: Double, end: Double)

  final case class Result(metrics: Map[String, Double], spans: Seq[Span], layers: Map[String, (Long, Double, Double)])

  /** `ops` are the traced operations; `client`/`server` are the counter
    * deltas of the two store decorators over the traced phases;
    * `jvm` holds jvm.* figures already measured; `extra` holds the
    * workload's operator figures.
    */
  def apply(t: Tracer, ops: Seq[OpRec], client: Map[String, Long], server: Map[String, Long],
      jvm: Map[String, Double], extra: Map[String, Double]): Result = {
    val opIds = ops.map(_.id).toSet
    val n = math.max(1, ops.size).toDouble
    val opById = ops.map(o => o.id -> o).toMap

    val jobs = t.jobs.values().asScala.filter(j => j.group != null && opIds(j.group)).toSeq
    val jobIds = jobs.map(_.id).toSet
    val execOp: Map[Long, String] = jobs.filter(_.execId >= 0).map(j => j.execId -> j.group).toMap
    val tasks = t.tasks.asScala.filter(k => jobIds(t.stageJob.getOrDefault(k.stage, -1))).toSeq
    val stages = tasks.map(_.stage).distinct
    val qes = t.qes.asScala.filter(q => execOp.contains(q.execId)).toSeq

    // ---- spans: recorded ones plus those synthesized from Spark's events
    val recorded = t.spans.asScala.filter(s => s.op != null && opIds(s.op)).toSeq
    val phaseSpans = qes.flatMap { q =>
      val op = execOp(q.execId)
      q.phases.toSeq.map { case (name, (s, e)) =>
        Span(s"q${q.execId}.$name", s"plan.$name", s.toDouble, e.toDouble, op, op)
      }
    }
    val jobSpans = jobs.map(j => Span(s"j${j.id}", "exec.job", j.start.toDouble,
      (if (j.end >= 0) j.end else j.start).toDouble, j.group, j.group))
    val taskSpans = tasks.map { k =>
      val j = t.stageJob.get(k.stage)
      Span(s"t${k.id}", "exec.task", k.launch.toDouble, k.finish.toDouble, s"j$j", jobs.find(_.id == j).map(_.group).orNull)
    }
    // driver-side store calls (estimate/sample) run inside a planning
    // phase: hang them under the phase that contains them
    val phasesByOp = phaseSpans.groupBy(_.op)
    val storeSpans = recorded.map { s =>
      if (s.parent == s.op && s.name.startsWith("store."))
        phasesByOp.getOrElse(s.op, Nil).find(p => p.start <= s.start && s.start <= p.end)
          .map(p => s.copy(parent = p.id)).getOrElse(s)
      else s
    }
    val opSpans = ops.map(o => Span(o.id, "op", o.start, o.end, "", o.id))
    val all = opSpans ++ phaseSpans ++ jobSpans ++ taskSpans ++ storeSpans
    val children = all.groupBy(_.parent)

    def covered(s: Span): Double = {
      val kids = children.getOrElse(s.id, Nil)
      val (busyKids, ivKids) = kids.partition(_.busyMs >= 0)
      Tracer.unionLength(ivKids.map(k => Tracer.clip((k.start, k.end), s.start, s.end))) + busyKids.map(_.busy).sum
    }
    def self(s: Span): Double = math.max(0.0, s.busy - covered(s))
    val layers: Map[String, (Long, Double, Double)] = all.groupBy(_.name).map { case (name, ss) =>
      name -> ((ss.size.toLong, ss.map(_.busy).sum, ss.map(self).sum))
    }

    // ---- per-operation figures
    def ms(ns: Long): Double = ns / 1e6
    def sumPhase(name: String): Double = qes.flatMap(_.phases.get(name)).map { case (s, e) => (e - s).toDouble }.sum
    val planMs = qes.flatMap(_.phases.values).map { case (s, e) => (e - s).toDouble }.sum
    val jobUnion = jobSpans.groupBy(_.op).map { case (op, js) =>
      val o = opById(op)
      Tracer.unionLength(js.map(j => Tracer.clip((j.start, j.end), o.start, o.end)))
    }.sum
    val wall = ops.map(o => o.end - o.start).sum
    val unattributed = opSpans.map(o => math.max(0.0, o.dur - Tracer.unionLength(
      children.getOrElse(o.id, Nil).map(k => Tracer.clip((k.start, k.end), o.start, o.end))))).sum

    def c(k: String) = client.getOrElse(k, 0L)
    def sv(k: String) = server.getOrElse(k, 0L)
    val storeByTask = storeSpans.filter(_.parent.startsWith("t")).groupBy(_.parent)
    def selfOf(kind: String): Double = tasks.flatMap { k =>
      storeByTask.get(s"t${k.id}").flatMap { ss =>
        val mine = ss.filter(_.name == s"store.$kind")
        if (mine.isEmpty) None else Some(k.runMs - mine.map(_.busy).sum)
      }
    }.sum
    val scanRows = qes.map(_.scanRows).sum
    val callSpans = recorded.filter(_.name == "operators.call")

    val m = mutable.LinkedHashMap[String, Double](
      "plan.analysis_ms" -> sumPhase("analysis") / n,
      "plan.optimization_ms" -> sumPhase("optimization") / n,
      "plan.planning_ms" -> sumPhase("planning") / n,
      "plan.pushdown_ms" -> ms(qes.map(_.pushdownNs).sum) / n,
      "exec.jobs" -> jobs.size / n,
      "exec.stages" -> stages.size / n,
      "exec.tasks" -> tasks.size / n,
      "exec.task_run_ms" -> tasks.map(_.runMs).sum / n,
      "exec.task_cpu_ms" -> ms(tasks.map(_.cpuNs).sum) / n,
      "exec.task_wait_ms" -> tasks.map(k => math.max(0L, k.launch - t.stageSubmitted.getOrDefault(k.stage, k.launch))).sum / n,
      "exec.driver_gap_ms" -> math.max(0.0, wall - planMs - jobUnion) / n,
      "exec.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum / n,
      "exec.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum / n,
      "exec.spill_bytes" -> tasks.map(_.spill).sum / n,
      "store.read_calls" -> c("read_calls") / n,
      "store.read_ranges" -> c("read_ranges") / n,
      "store.read_rows" -> c("read_rows") / n,
      "store.read_cells" -> c("read_cells") / n,
      "store.read_bytes" -> c("read_bytes") / n,
      "store.read_ms" -> ms(c("read_ns")) / n,
      "store.read_first_row_ms" -> ms(c("read_first_row_ns")) / n,
      "store.estimate_calls" -> c("estimate_calls") / n,
      "store.estimate_ms" -> ms(c("estimate_ns")) / n,
      "store.sample_calls" -> c("sample_calls") / n,
      "store.sample_ms" -> ms(c("sample_ns")) / n,
      "store.mutate_calls" -> c("mutate_calls") / n,
      "store.mutate_rows" -> c("mutate_rows") / n,
      "store.mutate_ms" -> ms(c("mutate_ns")) / n,
      "server.read_ms" -> ms(sv("read_ns")) / n,
      "server.mutate_ms" -> ms(sv("mutate_ns")) / n,
      "wire.read_ms" -> ms(c("read_ns") - sv("read_ns")) / n,
      "wire.mutate_ms" -> ms(c("mutate_ns") - sv("mutate_ns")) / n,
      "connector.scan_rows_out" -> scanRows / n,
      "connector.cells_per_result_row" -> (if (scanRows > 0) c("read_cells").toDouble / scanRows else 0.0),
      "connector.read_self_ms" -> selfOf("read") / n,
      "connector.write_self_ms" -> selfOf("mutate") / n,
      "operators.call_ms" -> callSpans.map(_.dur).sum / n,
      "operators.jobs" -> jobs.count(j =>
        callSpans.exists(s => s.op == j.group && s.start <= j.start && j.start <= s.end)) / n,
      "unattributed_ms" -> unattributed / n)
    m ++= extra
    m ++= jvm
    Result(m.toMap, all, layers)
  }
}
