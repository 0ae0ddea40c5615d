package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.{ArrayBuffer, HashSet => MSet}

import org.apache.spark.GraftBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval around a call into a layer. Spans of one
 * job share `job`; `parent` is the enclosing span's id (-1 for a root). */
final case class Span(id: Int, name: String, layer: String, job: Int, parent: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends. */
final class Tracer {
  private val done = ArrayBuffer[Span]()
  private var open = List.empty[(Int, String, String, Long)]
  private var nextId = 0
  var job = 0

  def span[T](name: String, layer: String)(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, layer, System.nanoTime()) :: open
    try f
    finally {
      val (_, _, _, t0) = open.head
      open = open.tail
      done += Span(id, name, layer, job, parent, t0, System.nanoTime())
    }
  }

  def spans: Seq[Span] = done.toSeq

  /** Span duration minus the part of its interval its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def selfByLayer(job: Int): Seq[(String, Double)] =
    done.filter(_.job == job).groupBy(_.layer).toSeq
      .map { case (l, ss) => l -> ss.map(selfSeconds).sum }.sortBy(-_._2)
}

/** Spark-level counters from a listener the benchmark registers. All
 * totals are cumulative; callers diff two [[SparkStats.Snap]]s around a
 * window. Join output rows come from the SQL metrics of every join node
 * of every executed plan (including plans an operator runs internally). */
final class SparkStats extends SparkListener {
  val jobs, stages, taskNs, gcMs, shuffleWrite, spill, singleTaskStages, scanTasks,
    joinRows = new AtomicLong
  private val joinAccs = MSet[Long]()
  private val latestPlan = scala.collection.mutable.Map[Long, SparkPlanInfo]()
  val exchanges, nestedLoopJoins, wscgStages = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val info = e.stageInfo
    if (info.numTasks == 1) singleTaskStages.incrementAndGet()
    val tm = info.taskMetrics
    if (tm != null && (tm.inputMetrics.bytesRead > 0 || tm.inputMetrics.recordsRead > 0))
      scanTasks.addAndGet(info.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tm = e.taskMetrics
    if (tm != null) {
      taskNs.addAndGet(tm.executorRunTime * 1000000L)
      gcMs.addAndGet(tm.jvmGCTime)
      shuffleWrite.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(tm.memoryBytesSpilled + tm.diskBytesSpilled)
    }
    val ids = joinAccs.synchronized(joinAccs.toSet)
    e.taskInfo.accumulables.foreach { a =>
      if (ids.contains(a.id)) a.update.foreach {
        case n: Long => joinRows.addAndGet(n)
        case n: java.lang.Long => joinRows.addAndGet(n.longValue)
        case _ =>
      }
    }
  }

  private def registerJoins(p: SparkPlanInfo): Unit = {
    if (p.nodeName.contains("Join"))
      p.metrics.filter(_.name == "number of output rows")
        .foreach(m => joinAccs.synchronized(joinAccs += m.accumulatorId))
    p.children.foreach(registerJoins)
  }

  private def countNodes(p: SparkPlanInfo): Unit = {
    val n = p.nodeName
    if (n == "Exchange") exchanges.incrementAndGet()
    if (n == "BroadcastNestedLoopJoin" || n == "CartesianProduct") nestedLoopJoins.incrementAndGet()
    if (n.startsWith("WholeStageCodegen")) wscgStages.incrementAndGet()
    p.children.foreach(countNodes)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      registerJoins(s.sparkPlanInfo); latestPlan(s.executionId) = s.sparkPlanInfo
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      registerJoins(u.sparkPlanInfo); latestPlan(u.executionId) = u.sparkPlanInfo
    case x: SparkListenerSQLExecutionEnd =>
      latestPlan.remove(x.executionId).foreach(countNodes)
    case _ =>
  }

  def snap(sc: org.apache.spark.SparkContext): SparkStats.Snap = {
    GraftBenchBridge.drain(sc)
    SparkStats.Snap(Seq(jobs, stages, taskNs, gcMs, shuffleWrite, spill, singleTaskStages,
      scanTasks, joinRows, exchanges, nestedLoopJoins, wscgStages).map(_.get))
  }
}

object SparkStats {
  final case class Snap(v: Seq[Long]) {
    def -(o: Snap): Snap = Snap(v.zip(o.v).map { case (a, b) => a - b })
    def jobs: Long = v(0); def stages: Long = v(1); def taskS: Double = v(2) / 1e9
    def gcS: Double = v(3) / 1e3; def shuffleWriteMb: Double = v(4) / 1048576.0
    def spillMb: Double = v(5) / 1048576.0; def singleTaskStages: Long = v(6)
    def scanTasks: Long = v(7); def joinRows: Long = v(8); def exchanges: Long = v(9)
    def nestedLoopJoins: Long = v(10); def wscgStages: Long = v(11)
  }
}

/** Per-action plan facts from a QueryExecutionListener: planning time
 * (analysis + optimization + planning phases), CodegenFallback
 * expressions in the executed plan, and SpatialJoinRule rewrites (the
 * rule's cover generator output is named `__graft_cover`). */
final class PlanStats extends QueryExecutionListener {
  val planNs, fallbackExprs, ruleRewrites = new AtomicLong

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o +: o.children.flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    planNs.addAndGet(Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum)
    nodes(qe.executedPlan).foreach(_.expressions.foreach(_.foreach {
      case _: CodegenFallback => fallbackExprs.incrementAndGet()
      case _ =>
    }))
    qe.optimizedPlan.foreach {
      case g: Generate if g.generatorOutput.exists(_.name == "__graft_cover") =>
        ruleRewrites.incrementAndGet()
      case _ =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snap: Seq[Long] = Seq(planNs.get, fallbackExprs.get, ruleRewrites.get)
}

/** Counts CodeGenerator's "Generated method too long to be JIT compiled"
 * INFO lines through a log4j2 appender on that one logger. */
object JitLog {
  val count = new AtomicLong
  private val LoggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  @volatile private var installed = false

  def install(): Unit = synchronized {
    if (!installed) {
      import org.apache.logging.log4j.{Level, LogManager}
      import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val app = new AbstractAppender("graftbench-jit", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getMessage.getFormattedMessage.contains("too long to be JIT")) count.incrementAndGet()
      }
      app.start()
      cfg.addAppender(app)
      val lc = new LoggerConfig(LoggerName, Level.INFO, false)
      lc.addAppender(app, Level.INFO, null)
      cfg.addLogger(LoggerName, lc)
      ctx.updateLoggers()
      installed = true
    }
  }
}

/** Attaches and detaches the benchmark's listeners on a session. */
final class Probe(spark: SparkSession) {
  val stats = new SparkStats
  val plans = new PlanStats
  def on(): Unit = {
    JitLog.install()
    spark.sparkContext.addSparkListener(stats)
    spark.listenerManager.register(plans)
  }
  def off(): Unit = {
    GraftBenchBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(stats)
    spark.listenerManager.unregister(plans)
  }
  /** (spark counters, plan counters, jit lines) — cumulative. */
  def snap(): (SparkStats.Snap, Seq[Long], Long) =
    (stats.snap(spark.sparkContext), plans.snap, JitLog.count.get)
}
