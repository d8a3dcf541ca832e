package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer. `op` is the batch or request id the call
  * served (-1 for set-up and checks). Times are System.nanoTime;
  * `codegenNs` (Spark's running sum of code-compile time) and `gcMs` (JVM
  * collection time) are what the span's whole duration added. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    start: Long, end: Long, codegenNs: Long, gcMs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** Task totals of the jobs one span ran. */
final class ExecTotals {
  var cpuNs = 0L; var runMs = 0L; var tasks = 0L; var stages = 0L
  var gcMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var readBytes = 0L; var writeBytes = 0L; var writeRecords = 0L
  var aqeReplans = 0L
  def add(o: ExecTotals): Unit = {
    cpuNs += o.cpuNs; runMs += o.runMs; tasks += o.tasks; stages += o.stages
    gcMs += o.gcMs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    readBytes += o.readBytes; writeBytes += o.writeBytes
    writeRecords += o.writeRecords; aqeReplans += o.aqeReplans
  }
}

/** Planning and plan-shape figures of one SQL execution. The join
  * figures count only joins no earlier execution reported: a cached
  * frame's plan, join included, reappears in every execution that scans
  * the cache. `bandRows` is the output of the MinHash band-collision
  * joins (inner joins keyed on the band hash `bh`), the near-dup
  * candidate pairs. */
final case class PlanFigures(analysisMs: Long, optimizerMs: Long,
    physicalMs: Long, maxJoinRows: Long, bandRows: Long, filesWritten: Long)

/** Listener keyed by job group: the traced run sets the group to
  * `<span name>#<span id>` around every layer call, so each task,
  * stage, SQL execution and AQE re-plan lands on the span that caused
  * it. For each finished SQL execution it also keeps the planning-phase
  * times (QueryPlanningTracker), the largest join's output rows (the
  * candidate count of a blocked join), the band joins' output rows and
  * the files its writes produced. Runs on the listener bus thread. */
final class LayerListener extends SparkListener with AdaptiveSparkPlanHelper {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  val byGroup = new ConcurrentHashMap[String, ExecTotals]()
  val plans = new ConcurrentHashMap[Long, PlanFigures]()
  private val seenJoins = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  private def acc(g: String) = byGroup.computeIfAbsent(g, _ => new ExecTotals)

  def groupOfExecution(id: Long): Option[String] = Option(execGroup.get(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    acc(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageGroup.getOrDefault(e.stageId, ""))
      a.cpuNs += m.executorCpuTime; a.runMs += m.executorRunTime
      a.tasks += 1; a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.readBytes += m.inputMetrics.bytesRead
      a.writeBytes += m.outputMetrics.bytesWritten
      a.writeRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execGroup.put(s.executionId, s.jobGroupId.getOrElse(""))
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      acc(execGroup.getOrDefault(u.executionId, "")).aqeReplans += 1
    case end: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.ExecutionEndPlan(end).foreach(qe =>
        plans.put(end.executionId, figures(qe)))
    case _ =>
  }

  private def figures(qe: QueryExecution): PlanFigures = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    val joins = allJoins(plan).filter(seenJoins.add)
    def rows(j: BaseJoinExec) = j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val band = joins.filter(j => j.joinType == Inner &&
      j.leftKeys.exists(_.references.exists(_.name == "bh")))
    val files = collect(plan) {
      case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }
    PlanFigures(ms("analysis"), ms("optimization"), ms("planning"),
      (0L +: joins.map(rows)).max, band.map(rows).sum, files.sum)
  }

  /** Every join of the plan, including joins inside the cached plans the
    * execution read (a layer that caches a joined frame runs the join
    * while building the cache). */
  private def allJoins(plan: SparkPlan): Seq[BaseJoinExec] =
    collectWithSubqueries(plan) {
      case j: BaseJoinExec => Seq(j)
      case m: InMemoryTableScanExec => allJoins(m.relation.cachedPlan)
    }.flatten
}

/** Spans around each layer call. Untraced, `span` only runs the body:
  * no listener, no job group, nothing recorded. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val layers = new LayerListener
  private var open = List.empty[(Int, String)]
  private var nextId = 1

  if (enabled) spark.sparkContext.addSparkListener(layers)

  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      val sc = spark.sparkContext
      open = (id, name) :: open
      sc.setJobGroup(s"$name#$id", name, interruptOnCancel = false)
      val cg0 = CodeGenerator.compileTime
      val gc0 = Tracer.gcMs()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        spans += Span(id, name, parent, op, t0, t1,
          CodeGenerator.compileTime - cg0, Tracer.gcMs() - gc0)
        open.headOption match {
          case Some((pid, pname)) =>
            sc.setJobGroup(s"$pname#$pid", pname, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.BusDrain(spark.sparkContext)

  /** Span id of a job group, or 0 for jobs outside any span. */
  def spanOfGroup(g: String): Int =
    if (g.contains('#')) g.substring(g.lastIndexOf('#') + 1).toInt else 0

  /** Task totals per span id. */
  def execBySpan: Map[Int, ExecTotals] =
    layers.byGroup.asScala.toSeq.groupBy(kv => spanOfGroup(kv._1)).map {
      case (id, kvs) =>
        val t = new ExecTotals
        kvs.foreach(kv => t.add(kv._2))
        id -> t
    }

  /** Plan figures per span id. */
  def plansBySpan: Map[Int, Seq[PlanFigures]] =
    layers.plans.asScala.toSeq.flatMap { case (exec, p) =>
      layers.groupOfExecution(exec).map(g => spanOfGroup(g) -> p)
    }.groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2) }

  /** Self time of each span: its duration minus the part of it its
    * direct children cover (children of one span never overlap: the
    * benchmark is one client thread). */
  def selfSeconds: Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val t0 = spans.map(_.start).minOption.getOrElse(0L)
    val self = selfSeconds
    val lines = spans.sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6,
        "self_ms" -> self(s.id) * 1e3))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Collection time of all the JVM's collectors so far. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
}
