package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are wall-clock milliseconds since
  * the epoch (fractional), so they compare with Spark's event times. */
final case class Span(id: Long, parent: Long, opId: Long, layer: String,
    name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spark work attributed to one span: everything that ran under the
  * span's job group. */
final class SparkAgg {
  val jobs, stages, tasks, cpuNs, shuffleBytes, spillBytes, gcMs, recordsRead =
    new AtomicLong()
  @volatile var planMs = 0.0
  @volatile var execMs = 0.0
}

/** Spans and Spark counters of a traced run. Spans are recorded by the
  * benchmark around its calls into graft; the span id becomes the Spark
  * job group of the calling thread, so the listeners below can charge
  * every job, stage, task and SQL execution to the span that caused it.
  * Everything stays in memory until the run ends. With tracing off,
  * [[span]] is a plain call and no listener is registered. */
object Trace {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"

  @volatile var enabled = false
  /** Calibration switch of a traced run: while false, spans and listener
    * callbacks do nothing, so the run can time the same operation with
    * and without tracing. */
  @volatile var recording = true

  private val ids = new AtomicLong(1)
  private val wallBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = wallBase + (System.nanoTime() - nanoBase) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  val aggs = new ConcurrentHashMap[Long, SparkAgg]()
  /** Finished SQL executions: (span of its job group, start, end). */
  val execs = new ConcurrentLinkedQueue[(Long, Double, Double)]()

  private def active: Boolean = enabled && recording

  def newId(): Long = ids.getAndIncrement()

  /** Run `f` as a span of `layer`. `parent`/`opId` link a span opened on
    * another thread (the server's handler) to the operation that caused
    * it; by default both come from the calling thread's open span.
    * `keepGroup` leaves the job group set after the span closes, for a
    * caller whose Spark work runs later on the same thread (the
    * server's handler collects the frame the engine call returned). */
  def span[A](sc: SparkContext, layer: String, name: String,
      parent: Long = -1L, opId: Long = -1L, keepGroup: Boolean = false)(f: => A): A =
    if (!active) f
    else {
      val id = newId()
      val outer = stack.get()
      val p = if (parent >= 0) parent else outer.headOption.map(_._1).getOrElse(0L)
      val op = if (opId >= 0) opId else outer.headOption.map(_._2).getOrElse(id)
      val prevGroup = sc.getLocalProperty(JobGroupKey)
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      stack.set((id, op) :: outer)
      val start = nowMs
      try f
      finally {
        spans.add(Span(id, p, op, layer, name, start, nowMs))
        stack.set(outer)
        if (!keepGroup) {
          if (prevGroup == null) sc.clearJobGroup()
          else sc.setJobGroup(prevGroup, name, interruptOnCancel = false)
        }
      }
    }

  /** Id of the calling thread's open span, or 0. */
  def current: Long = stack.get().headOption.map(_._1).getOrElse(0L)

  private def agg(span: Long): SparkAgg = aggs.computeIfAbsent(span, _ => new SparkAgg)

  /** Counts Spark work per job group, and planning time per query. */
  final class Listener extends SparkListener with QueryExecutionListener {
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    private val execSpan = new ConcurrentHashMap[Long, (Long, Double)]()

    private def groupSpan(props: java.util.Properties): Option[Long] =
      Option(props).flatMap(p => Option(p.getProperty(JobGroupKey)))
        .flatMap(_.toLongOption)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (active) groupSpan(e.properties).foreach { s =>
        agg(s).jobs.incrementAndGet()
        e.stageIds.foreach(stageSpan.put(_, s))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageSpan.remove(info.stageId)).foreach { s =>
        val a = agg(s)
        a.stages.incrementAndGet()
        a.tasks.addAndGet(info.numTasks.toLong)
        Option(info.taskMetrics).foreach { tm =>
          a.cpuNs.addAndGet(tm.executorCpuTime)
          a.shuffleBytes.addAndGet(tm.shuffleReadMetrics.totalBytesRead +
            tm.shuffleWriteMetrics.bytesWritten)
          a.spillBytes.addAndGet(tm.memoryBytesSpilled + tm.diskBytesSpilled)
          a.gcMs.addAndGet(tm.jvmGCTime)
          a.recordsRead.addAndGet(tm.inputMetrics.recordsRead)
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if active =>
        s.jobGroupId.flatMap(_.toLongOption).foreach(g =>
          execSpan.put(s.executionId, (g, s.time.toDouble)))
      case end: SparkListenerSQLExecutionEnd =>
        Option(execSpan.get(end.executionId)).foreach { case (g, start) =>
          val a = agg(g)
          a.synchronized { a.execMs += end.time - start }
          execs.add((g, start, end.time.toDouble))
          org.apache.spark.sql.BenchSql.queryOf(end).foreach(qe => pairPlan(qe, Some(g), None))
        }
      case _ => ()
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) pairPlan(qe, None,
        Some(qe.tracker.phases.values.map(_.durationMs).sum.toDouble))

    // a query's planning time (from onSuccess) and its span (from the
    // execution-end event) arrive in either order; whichever comes second
    // charges the planning time to the span
    private val pending = new java.util.IdentityHashMap[QueryExecution, Either[Long, Double]]()

    private def pairPlan(qe: QueryExecution, span: Option[Long], planMs: Option[Double]): Unit =
      pending.synchronized {
        Option(pending.remove(qe)) match {
          case Some(Left(g)) => planMs.foreach(ms => addPlan(g, ms))
          case Some(Right(ms)) => span.foreach(g => addPlan(g, ms))
          case None => pending.put(qe, span.map(Left(_)).getOrElse(Right(planMs.get)))
        }
      }

    private def addPlan(g: Long, ms: Double): Unit = {
      val a = agg(g)
      a.synchronized { a.planMs += ms }
    }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    enabled = true
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
  }

  /** Every span of the run, plus one `spark`-layer span per finished SQL
    * execution. An execution that ran inside its group's span is that
    * span's child; one that ran after the span closed (the server's
    * collect after the engine call returned) is a child of the span's
    * parent. Drains the listener bus first, so the counters [[sparkOf]]
    * reads afterwards are complete too. */
  def allSpans(sc: SparkContext): Seq[Span] = {
    org.apache.spark.BenchBus.drain(sc)
    val base = spans.asScala.toSeq
    val byId = base.map(s => s.id -> s).toMap
    val sql = execs.asScala.toSeq.flatMap { case (g, st, en) =>
      byId.get(g).map { s =>
        val inside = st >= s.startMs - 1 && en <= s.endMs + 1
        val p = if (inside) s.id else s.parent
        Span(newId(), p, s.opId, "spark", "sql", st, en)
      }
    }
    base ++ sql
  }

  /** Span duration minus the part of it its children cover. */
  def selfTimes(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      ivs.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) covered += curB - curA
      s.id -> (s.durMs - covered)
    }.toMap
  }

  /** Spark counters summed over the spans of the given operations
    * (every span whose op id is in `ops`). */
  def sparkOf(ops: Set[Long]): SparkTotals = {
    val inOps = spans.asScala.filter(s => ops.contains(s.opId)).map(_.id).toSet
    val as = aggs.asScala.collect { case (k, v) if inOps.contains(k) => v }
    SparkTotals(
      jobs = as.map(_.jobs.get).sum, stages = as.map(_.stages.get).sum,
      tasks = as.map(_.tasks.get).sum, cpuMs = as.map(_.cpuNs.get).sum / 1e6,
      shuffleBytes = as.map(_.shuffleBytes.get).sum,
      spillBytes = as.map(_.spillBytes.get).sum, gcMs = as.map(_.gcMs.get).sum,
      recordsRead = as.map(_.recordsRead.get).sum,
      planMs = as.map(_.planMs).sum, execMs = as.map(_.execMs).sum)
  }
}

final case class SparkTotals(jobs: Long, stages: Long, tasks: Long,
    cpuMs: Double, shuffleBytes: Long, spillBytes: Long, gcMs: Long,
    recordsRead: Long, planMs: Double, execMs: Double)
