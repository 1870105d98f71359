package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, REPARTITION_BY_NUM}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval at a layer boundary. Spans of one operation (a query
  * execution or an ingest batch) share `op`; `parent` is the id of the
  * enclosing span, -1 for the operation's root.
  */
final case class Span(id: Int, op: Int, parent: Int, name: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Counts of the plan decisions the engine took, summed over plans. */
final case class PlanDecisions(exchanges: Int = 0, broadcastJoins: Int = 0,
                               sortMergeJoins: Int = 0,
                               fanoutRepartitions: Int = 0,
                               nativeExprs: Int = 0) {
  def +(o: PlanDecisions): PlanDecisions = PlanDecisions(
    exchanges + o.exchanges, broadcastJoins + o.broadcastJoins,
    sortMergeJoins + o.sortMergeJoins,
    fanoutRepartitions + o.fanoutRepartitions, nativeExprs + o.nativeExprs)
}

object PlanDecisions {
  /** Package of the program's native Catalyst expressions (the classes
    * behind `graft.functions.expressions`).
    */
  val NativePackage = "org.apache.spark.sql.graft."

  /** Every node of a physical plan: children, subqueries, the plan a
    * command ran and the plan a cached relation was built from.
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = Seq.newBuilder[SparkPlan]
    def visit(p: SparkPlan): Unit = {
      out += p
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
      p match {
        case c: CommandResultExec => visit(c.commandPhysicalPlan)
        case m: InMemoryTableScanExec => visit(m.relation.cachedPlan)
        case _ =>
      }
    }
    visit(plan)
    out.result()
  }

  /** Counts the decisions in every node of a plan (see [[nodes]]).
    *  - exchanges: shuffle exchanges of any origin;
    *  - fanoutRepartitions: the shuffles an explicit `repartition(n, …)` /
    *    `repartitionByRange(n, …)` asked for (`Tables.wide` fanout among them);
    *  - nativeExprs: expression nodes whose class is a graft kernel.
    */
  def of(plan: SparkPlan): PlanDecisions = {
    var d = PlanDecisions()
    nodes(plan).foreach { p =>
      p match {
        case s: ShuffleExchangeExec =>
          d = d.copy(exchanges = d.exchanges + 1,
            fanoutRepartitions = d.fanoutRepartitions +
              (if (s.shuffleOrigin == REPARTITION_BY_NUM) 1 else 0))
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
          d = d.copy(broadcastJoins = d.broadcastJoins + 1)
        case _: SortMergeJoinExec =>
          d = d.copy(sortMergeJoins = d.sortMergeJoins + 1)
        case _ =>
      }
      p.expressions.foreach(_.foreach { e =>
        if (e.getClass.getName.startsWith(NativePackage))
          d = d.copy(nativeExprs = d.nativeExprs + 1)
      })
    }
    d
  }
}

/** Task-side totals, as Spark's task metrics report them. */
final case class TaskTotals(
    tasks: Long = 0, runMs: Double = 0, cpuMs: Double = 0, gcMs: Double = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    shuffleRecords: Long = 0, fetchWaitMs: Double = 0, spillBytes: Long = 0,
    scanBytes: Long = 0, scanRecords: Long = 0, scanTasks: Long = 0)

/** The traced run's recorder. Registered only when tracing, so the untraced
  * run carries no listener. Spark work is attributed to an operation by the
  * job group the caller sets on its thread (`begin`).
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val t0 = System.nanoTime()
  def now(): Double = (System.nanoTime() - t0) / 1e6
  /** Wall clock of [[now]]'s zero, for Spark's epoch-millisecond stamps. */
  private val epochZero = System.currentTimeMillis() - now()
  private def rel(epochMs: Long): Double = epochMs - epochZero

  private val spans = mutable.ArrayBuffer.empty[Span]
  /** The spans recorded so far. */
  def snapshot(): Seq[Span] = synchronized(spans.toList)
  /** Duration of a recorded span (ids index the buffer). */
  def ms(id: Int): Double = synchronized(spans(id).ms)
  private var nextId = 0
  private var ops = 0
  /** A fresh operation id. */
  def nextOp(): Int = synchronized { ops += 1; ops }
  private val groupOp = mutable.Map.empty[String, Int]
  private val execGroup = mutable.Map.empty[Long, String]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, (Int, Double)]
  val jobs = mutable.Map.empty[Int, Int].withDefaultValue(0)
  val stages = mutable.Map.empty[Int, Int].withDefaultValue(0)
  val totals = mutable.Map.empty[Int, TaskTotals].withDefaultValue(TaskTotals())
  val taskIntervals =
    mutable.Map.empty[Int, mutable.ArrayBuffer[(Double, Double)]]
  val plans = mutable.Map.empty[Int, PlanDecisions].withDefaultValue(PlanDecisions())
  /** Parquet tables (file names without extension) each operation scanned. */
  val tables = mutable.Map.empty[Int, Set[String]].withDefaultValue(Set.empty)

  spark.sparkContext.addSparkListener(this)

  def close(): Unit = {
    flush()
    spark.sparkContext.removeSparkListener(this)
  }

  @volatile private var lastEvent = System.nanoTime()
  private def seen(): Unit = lastEvent = System.nanoTime()

  /** Waits until Spark's asynchronous listener queues have delivered the
    * events of finished work: no job open and 300 ms without an event.
    */
  def flush(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
           (synchronized(jobOp.nonEmpty) ||
            System.nanoTime() - lastEvent < 300000000L))
      Thread.sleep(50)
  }

  def span(op: Int, parent: Int, name: String, start: Double,
           end: Double): Int = synchronized {
    val id = nextId; nextId += 1
    spans += Span(id, op, parent, name, start, end); id
  }

  /** Times `body` as a span and returns its result and span id. */
  def timed[T](op: Int, parent: Int, name: String)(body: => T): (T, Int) = {
    val s = now(); val r = body
    (r, span(op, parent, name, s, now()))
  }

  /** Attributes the Spark work this thread starts from now on to `op`. */
  def begin(op: Int): Unit = {
    val g = s"perfbench-op-$op"
    synchronized(groupOp(g) = op)
    spark.sparkContext.setJobGroup(g, g)
  }

  def end(): Unit = spark.sparkContext.clearJobGroup()

  private def opOfGroup(g: Option[String]): Option[Int] =
    g.flatMap(x => synchronized(groupOp.get(x)))

  override def onOtherEvent(event: SparkListenerEvent): Unit = { seen(); event match {
    case e: SparkListenerSQLExecutionStart =>
      e.jobGroupId.foreach(g => synchronized(execGroup(e.executionId) = g))
    case e: SparkListenerSQLExecutionEnd =>
      Tracer.queryExecution(e).foreach(qe => record(e.executionId, qe))
    case _ =>
  }}

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    seen()
    opOfGroup(Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))))
      .foreach { op => synchronized {
        jobs(op) = jobs(op) + 1
        jobOp(e.jobId) = (op, rel(e.time))
        e.stageIds.foreach(s => stageOp(s) = op)
      }}
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    seen()
    jobOp.remove(e.jobId).foreach { case (op, start) =>
      span(op, -1, "spark_job", start, rel(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      seen()
      stageOp.get(e.stageInfo.stageId).foreach(op => stages(op) = stages(op) + 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    seen()
    stageOp.get(e.stageId).foreach { op =>
      val m = e.taskMetrics
      if (m != null) {
        val t = totals(op)
        val sr = m.shuffleReadMetrics
        val in = m.inputMetrics
        val scanned = in.bytesRead > 0 || in.recordsRead > 0
        totals(op) = t.copy(
          tasks = t.tasks + 1,
          runMs = t.runMs + m.executorRunTime,
          cpuMs = t.cpuMs + m.executorCpuTime / 1e6,
          gcMs = t.gcMs + m.jvmGCTime,
          shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes = t.shuffleReadBytes + sr.remoteBytesRead + sr.localBytesRead,
          shuffleRecords = t.shuffleRecords + m.shuffleWriteMetrics.recordsWritten,
          fetchWaitMs = t.fetchWaitMs + sr.fetchWaitTime,
          spillBytes = t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
          scanBytes = t.scanBytes + in.bytesRead,
          scanRecords = t.scanRecords + in.recordsRead,
          scanTasks = t.scanTasks + (if (scanned) 1 else 0))
        taskIntervals.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
          ((rel(e.taskInfo.launchTime), rel(e.taskInfo.finishTime)))
      }
    }
  }

  /** Planning phases become spans; the executed plan's decisions and
    * scanned tables add up per operation.
    */
  private def record(executionId: Long, qe: QueryExecution): Unit = {
    val op = opOfGroup(synchronized(execGroup.get(executionId))).getOrElse(return)
    phases(op, qe)
    val plan = qe.executedPlan
    val d = PlanDecisions.of(plan)
    val scanned = Trace.scannedTables(plan)
    synchronized { plans(op) = plans(op) + d; tables(op) = tables(op) ++ scanned }
  }

  /** Records the Catalyst phases `qe`'s tracker has seen as spans of `op`. */
  def phases(op: Int, qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      if (phase != "parsing")
        span(op, -1, s"catalyst.$phase", rel(s.startTimeMs), rel(s.endTimeMs))
    }
}

object Tracer {
  /** The QueryExecution an SQL execution ran. The end event carries it for
    * Spark's own listeners but does not expose it to Scala code outside
    * `org.apache.spark.sql`, so it is read through its JVM accessor.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    try Option(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution])
    catch { case _: ReflectiveOperationException => None }
}

object Trace {
  /** The parquet tables a physical plan scans (see [[PlanDecisions.nodes]]). */
  def scannedTables(plan: SparkPlan): Set[String] =
    PlanDecisions.nodes(plan).collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(p => tableOf(p.toString)) }
      .flatten.toSet

  /** `.../lineitem.parquet` -> `lineitem`. */
  def tableOf(path: String): String =
    path.stripSuffix("/").split('/').last.stripSuffix(".parquet")

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double,
              hi: Double): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Parents every span of an operation that has none to the innermost
    * span of the same operation whose interval contains it, so Spark-side
    * spans (jobs, planning phases) hang under the call that caused them.
    */
  def nest(spans: Seq[Span]): Seq[Span] = {
    val byOp = spans.groupBy(_.op)
    spans.map { s =>
      if (s.parent >= 0 || s.name == "op") s
      else {
        val hosts = byOp(s.op).filter(h => h.id != s.id &&
          h.name != "spark_job" && !h.name.startsWith("catalyst.") &&
          // Spark stamps events in whole milliseconds
          h.startMs - 1 <= s.startMs && h.endMs + 1 >= s.endMs)
        hosts.sortBy(_.ms).headOption.map(h => s.copy(parent = h.id))
          .getOrElse(s)
      }
    }
  }

  /** Self time per span name: each span's duration minus the part of it
    * its children cover.
    */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        s.ms - covered(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)),
          s.startMs, s.endMs)
      }.sum
    }
  }
}
