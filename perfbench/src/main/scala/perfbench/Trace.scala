package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.SaveIntoDataSourceCommand
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark engine counts. Times are seconds, sizes bytes. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskS: Double = 0, schedDelayS: Double = 0, gcS: Double = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    readBytes: Long = 0, writeBytes: Long = 0,
    planningS: Double = 0, writeS: Double = 0) {

  def +(o: Counts): Counts = Counts(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskS + o.taskS, schedDelayS + o.schedDelayS, gcS + o.gcS,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, readBytes + o.readBytes, writeBytes + o.writeBytes,
    planningS + o.planningS, writeS + o.writeS)

  def -(o: Counts): Counts = this + o.scaled(-1)

  def scaled(f: Double): Counts = Counts(
    (jobs * f).round, (stages * f).round, (tasks * f).round,
    taskS * f, schedDelayS * f, gcS * f,
    (shuffleReadBytes * f).round, (shuffleWriteBytes * f).round,
    (spillBytes * f).round, (readBytes * f).round, (writeBytes * f).round,
    planningS * f, writeS * f)

  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_s" -> taskS, "sched_delay_s" -> schedDelayS, "gc_s" -> gcS,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble,
    "read_bytes" -> readBytes.toDouble, "write_bytes" -> writeBytes.toDouble,
    "planning_s" -> planningS, "write_s" -> writeS)
}

/** Engine counts from outside the program: a SparkListener for jobs,
  * stages and tasks, and a QueryExecutionListener for planning time
  * (the QueryPlanningTracker phases) and write-command time. Registered
  * only in traced runs. */
final class Engine extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks = new AtomicLong
  private val taskMs, schedMs, gcMs = new AtomicLong
  private val shufR, shufW, spill, readB, writeB = new AtomicLong
  private val planningMs, writeNs = new AtomicLong
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val intervals = ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { s =>
      intervals.synchronized { intervals += ((s.longValue, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      readB.addAndGet(m.inputMetrics.bytesRead)
      writeB.addAndGet(m.outputMetrics.bytesWritten)
      // the scheduler delay as the Spark UI derives it
      val fetch = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
      schedMs.addAndGet(math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetch))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    if (qe.logical.exists {
          case _: DataWritingCommand | _: SaveIntoDataSourceCommand => true
          case _ => false
        }) writeNs.addAndGet(durationNs)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def counts: Counts = Counts(
    jobs.get, stages.get, tasks.get,
    taskMs.get / 1e3, schedMs.get / 1e3, gcMs.get / 1e3,
    shufR.get, shufW.get, spill.get, readB.get, writeB.get,
    planningMs.get / 1e3, writeNs.get / 1e9)

  /** Seconds of [fromMs, toMs] covered by at least one job. */
  def jobSeconds(fromMs: Long, toMs: Long): Double = {
    val clipped = intervals.synchronized {
      intervals.iterator
        .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
        .filter { case (s, e) => e > s }.toVector
    }.sortBy(_._1)
    var covered, curS, curE = 0L
    var open = false
    clipped.foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) covered += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) covered += curE - curS
    covered / 1e3
  }
}

final case class Span(
    name: String, parent: Int, startNs: Long, endNs: Long,
    engine: Counts, driverGapS: Double, attrs: Map[String, String]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans (name, start, end, parent, run id), kept in memory and written
  * out at the end. Off, a span is only its body: no drain, no snapshot. */
final class Tracer(val runId: String, session: Option[SparkSession]) {
  val engine: Option[Engine] = session.map { s =>
    val e = new Engine
    s.sparkContext.addSparkListener(e)
    s.listenerManager.register(e)
    e
  }
  val on: Boolean = engine.isDefined
  private val t0 = System.nanoTime()
  private val done = ArrayBuffer[(Int, Span)]()
  private var stack = List.empty[Int]
  private var nextId = 0

  /** Engine counts after draining the listener bus, so that no snapshot
    * depends on a sleep. */
  private def snapshot(): Counts = (session, engine) match {
    case (Some(s), Some(e)) =>
      Bridge.drainListenerBus(s.sparkContext)
      e.counts
    case _ => Counts()
  }

  def span[T](name: String, attrs: (String, String)*)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = snapshot()
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try body
      finally {
        val ns1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        val c1 = snapshot()
        stack = stack.tail
        val wall = (ns1 - ns0) / 1e9
        val gap = math.max(0.0, wall - engine.get.jobSeconds(ms0, ms1))
        done += ((id, Span(name, parent, ns0 - t0, ns1 - t0, c1 - c0, gap, attrs.toMap)))
      }
    }

  def spans: Seq[(Int, Span)] = done.sortBy(_._1).toSeq

  /** Wall time minus the wall time of direct children. */
  def selfSeconds: Map[Int, Double] = {
    val childSum = done.groupBy(_._2.parent).map { case (p, cs) => p -> cs.map(_._2.seconds).sum }
    done.map { case (id, s) => id -> (s.seconds - childSum.getOrElse(id, 0.0)) }.toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val self = selfSeconds
    val lines = spans.map { case (id, s) =>
      Json.write(ListMap(
        "run_id" -> runId, "id" -> id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9, "wall_s" -> s.seconds,
        "self_s" -> self(id), "driver_gap_s" -> s.driverGapS,
        "engine" -> ListMap(s.engine.fields: _*), "attrs" -> s.attrs))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
