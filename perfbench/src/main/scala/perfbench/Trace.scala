package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the trace. Times are epoch nanoseconds, so
  * Spark's epoch-millisecond job times share the same axis.
  */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                      parent: Long, op: Long)

/** What Spark did on behalf of one traced operation. */
final class OpStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
  var runMs = 0L; var cpuNs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var output = 0L
  var catalystMs = 0.0
  val jobsByModule = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val jobMsByModule = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** Benchmark-side tracing: a SparkListener plus a QueryExecutionListener
  * registered from the benchmark's own code, and spans the benchmark
  * opens around its calls into the engine. Everything stays in memory
  * until the run ends. Listener events are attributed to the operation
  * that is current when they are delivered; [[Tracer.settle]] drains the
  * listener bus after every operation, so no event crosses into the
  * next one.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000000L
  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  /** The traced operation in progress, or -1 (events are then ignored). */
  @volatile private var op = -1L
  @volatile private var openSpan = -1L
  private var nextId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  val stats = mutable.LinkedHashMap.empty[Long, OpStats]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Long, String, Long)]

  /** SQL execution id → call site of the action that started it. */
  private val execSite = mutable.Map.empty[Long, String]
  /** Traced jobs per call site, for the run record. */
  val sites = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private def statsOf(o: Long): OpStats = stats.getOrElseUpdate(o, new OpStats)

  /** The engine module a job's call site names, e.g. "collect at
    * Warehouse.scala:141" → "Warehouse".
    */
  private def moduleOf(callSite: String): String = {
    val m = """ at ([A-Za-z0-9_$]+)\.scala""".r.findFirstMatchIn(callSite)
    m.map(_.group(1)).getOrElse("other")
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val o = op
      if (o >= 0) {
        // a SQL execution's jobs may be submitted from pool threads; its
        // start event carries the call site of the user's action
        val prop = Option(e.properties)
        val site = prop.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(x => execSite.get(x.toLong))
          .orElse(prop.flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
        sites(site) += 1
        e.stageIds.foreach(stageOp(_) = o)
        jobStart(e.jobId) = (o, e.time, moduleOf(site), openSpan)
        statsOf(o).jobs += 1
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execSite(x.executionId) = x.description
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (o, t0, module, parent) =>
        val s = statsOf(o)
        s.jobsByModule(module) += 1
        s.jobMsByModule(module) += e.time - t0
        spans += Span(id(), s"job:$module", t0 * 1000000L, e.time * 1000000L, parent, o)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(o => statsOf(o).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageOp.get(e.stageId).foreach { o =>
        val s = statsOf(o)
        s.tasks += 1
        if (e.taskInfo.failed) s.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val o = op
      if (o >= 0) statsOf(o).catalystMs +=
        qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def id(): Long = synchronized { nextId += 1; nextId }

  /** Run `body` as span `name` (a child of the open span) of `opId`. */
  def span[T](name: String, opId: Long)(body: => T): T = {
    val sid = id()
    val parent = openSpan
    val t0 = now()
    openSpan = sid
    try body
    finally {
      openSpan = parent
      synchronized { spans += Span(sid, name, t0, now(), parent, opId) }
    }
  }

  /** Start attributing listener events to `opId`. */
  def begin(opId: Long): Unit = { op = opId; statsOf(opId) }

  /** Deliver every pending listener event, then stop attributing. */
  def end(): Unit = { Tracer.settle(spark); op = -1 }

  def close(): Unit = {
    Tracer.settle(spark)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  /** Drain the listener bus (also between untraced operations, so both
    * modes leave the same quiet gap between operations).
    */
  def settle(spark: SparkSession): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Per-layer self time: a span's duration minus the union of its
    * children's intervals, summed by layer name.
    */
  def selfTimes(spans: Seq[Span], layerOf: String => String): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(s => layerOf(s.name)).map { case (layer, ss) =>
      layer -> ss.map { s =>
        (s.endNs - s.startNs - covered(s, kids.getOrElse(s.id, Nil))) / 1e6
      }.sum
    }
  }

  /** Nanoseconds of `s` covered by the union of `inner` intervals. */
  def covered(s: Span, inner: Seq[Span]): Long = {
    val ivs = inner.map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = 0L; var curB = 0L
    ivs.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + curB - curA
  }
}
