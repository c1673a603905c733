package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.PerfBenchBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec,
  ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Job, stage and task counters the listener attributes to one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes
    o.taskMsByStage.foreach { case (s, ms) =>
      taskMsByStage.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ms }
  }

  /** max / median task time of the stage with the most tasks. */
  def widestStageSkew: Double =
    if (taskMsByStage.isEmpty) 0.0
    else {
      val ms = taskMsByStage.values.maxBy(_.size).sorted
      val med = math.max(1L, ms(ms.size / 2))
      ms.last.toDouble / med
    }
}

/** One timed call: name, start, end, the span that caused it and the
  * pass it belongs to; plans are the query executions it completed. */
final case class Span(id: Long, name: String, parent: Long, pass: Int, startNs: Long,
    var endNs: Long = 0L, plans: mutable.ArrayBuffer[QueryExecution] = mutable.ArrayBuffer.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Traced-run recorder. Spans live in memory around the benchmark's calls
  * into the engine's public functions. A SparkListener attributes every
  * job to the innermost open span of the thread that submitted it (a job
  * local property; Checkpoint's bucket threads inherit it), and a
  * QueryExecutionListener hands each span the plans it executed. Both are
  * attached only while the recorder is enabled, so untraced passes run
  * without them. */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val Key = "perfbench.span"
  private val nextId = new AtomicLong(0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val pendingPlans = mutable.ArrayBuffer.empty[QueryExecution]
  private var enabled = false

  private def sc = spark.sparkContext
  private def countersOf(span: Long): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  def enable(): Unit = if (!enabled) {
    sc.addSparkListener(this); spark.listenerManager.register(this); enabled = true
  }

  def disable(): Unit = if (enabled) {
    flush(); sc.removeSparkListener(this); spark.listenerManager.unregister(this); enabled = false
  }

  /** Deliver every queued listener event before counters are read. */
  def flush(): Unit = PerfBenchBusAccess.drain(sc)

  /** Run `body` as a span; with the recorder disabled it only runs it. */
  def span[T](name: String, pass: Int)(body: => T): T =
    if (!enabled) body
    else {
      val parentProp = sc.getLocalProperty(Key)
      val parent = Option(parentProp).map(_.toLong).getOrElse(0L)
      val s = Span(nextId.incrementAndGet(), name, parent, pass, System.nanoTime())
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        sc.setLocalProperty(Key, parentProp)
        flush()
        pendingPlans.synchronized { s.plans ++= pendingPlans; pendingPlans.clear() }
        spans.synchronized { spans += s }
      }
    }

  def all: Vector[Span] = spans.synchronized(spans.toVector)

  def named(name: String): Vector[Span] = all.filter(_.name == name)

  /** Counters of a span and all its descendants. */
  def totals(s: Span): Counters = {
    val out = new Counters
    val children = all.groupBy(_.parent)
    def walk(x: Span): Unit = {
      Option(counters.get(x.id)).foreach(c => c.synchronized(out.add(c)))
      children.getOrElse(x.id, Vector.empty).foreach(walk)
    }
    walk(s)
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toLong).foreach { id =>
      val c = countersOf(id)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(stageSpan.put(_, id))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageSpan.get(e.stageId)
    if (id != 0L && e.taskMetrics != null) {
      val c = countersOf(id)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    pendingPlans.synchronized(pendingPlans += qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The spans as a JSON array (name, start, end, parent, pass, counters). */
  def toJson: String = {
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    all.sortBy(_.startNs).map { s =>
      val c = totals(s)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":${s.pass},""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"executor_run_ms":${c.runMs},""" +
        s""""executor_cpu_ns":${c.cpuNs},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""spill_bytes":${c.spillBytes},"input_bytes":${c.inputBytes}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Plans {
  /** Exchange nodes (shuffle and broadcast) in the final, post-AQE plan of
    * an executed query; a reused exchange moves no data and is not counted. */
  def exchanges(qe: QueryExecution): Int = {
    def walk(p: SparkPlan): Int = p match {
      case _: ReusedExchangeExec => 0
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        val here = other match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
          case _ => 0
        }
        here + (other.children ++ other.subqueries).map(walk).sum
    }
    walk(qe.executedPlan)
  }
}
