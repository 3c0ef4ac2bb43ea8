package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Listener events charge the span that was
  * innermost when their job was submitted (via the job group) or, for
  * Catalyst phases, when the phase started. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val traceId: String, val startNs: Long, val startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = Long.MaxValue
  val attrs = mutable.LinkedHashMap[String, String]()
  var jobs, stages, tasks, taskMs, jobMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  val phaseMs = mutable.Map[String, Long]().withDefaultValue(0L)
  def wallS: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder plus the SparkListener and QueryExecutionListener
 * that charge jobs, stages, task time, shuffle/spill bytes and
 * `QueryExecution.tracker` phase times to spans. Installed only for a
 * traced run; the untraced runs that give the end-to-end numbers never
 * register it.
 */
final class Tracer(val spark: SparkSession, val traceId: String)
    extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[String, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, (Span, Long)]()
  private val chargedQe = mutable.Set[Long]()
  private var stack: List[Span] = Nil
  private var nextId = 1L

  def install(): this.type = {
    sc.addSparkListener(this); spark.listenerManager.register(this); this
  }

  /** Deliver every pending listener event, then stop listening. */
  def finish(): Seq[Span] = {
    org.apache.spark.ListenerBusDrain(sc)
    sc.removeSparkListener(this); spark.listenerManager.unregister(this)
    synchronized(spans.toSeq)
  }

  def span[T](name: String, attrs: (String, String)*)(f: => T): T = {
    val s = synchronized {
      val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L),
        traceId, System.nanoTime(), System.currentTimeMillis())
      nextId += 1
      s.attrs ++= attrs
      spans += s; byId.put(s.id.toString, s); stack = s :: stack
      s
    }
    sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    try f
    finally synchronized {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(byId.get(g))).foreach { s =>
        synchronized { s.jobs += 1 }
        jobStart.put(e.jobId, (s, e.time))
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (s, t0) =>
      synchronized { s.jobMs += e.time - t0 }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => synchronized { s.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      synchronized {
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.taskMs += m.executorRunTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    charge(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    charge(qe)

  /** Charge a plan's analysis/optimization/planning time to the innermost
    * span open when each phase started. The listener's callbacks and the
    * benchmark's direct calls for checkpointed frames both land here; a
    * plan is charged once. */
  def charge(qe: QueryExecution): Unit = synchronized {
    if (chargedQe.add(qe.id)) qe.tracker.phases.foreach { case (phase, ps) =>
      spans.filter(s => s.startMs <= ps.startTimeMs && ps.startTimeMs <= s.endMs)
        .maxByOption(_.id).foreach(s => s.phaseMs(phase) += ps.durationMs)
    }
  }
}

/** Per-layer figures from a finished trace. */
final class TraceView(val spans: Seq[Span]) {
  private val children = spans.groupBy(_.parent)
  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  def selfS(s: Span): Double =
    s.wallS - children.getOrElse(s.id, Nil).map(_.wallS).sum
  def self(name: String): Double = named(name).map(selfS).sum
  def wall(name: String): Double = named(name).map(_.wallS).sum
  def taskS(name: String): Double = named(name).map(_.taskMs).sum / 1e3
  def shuffleWriteMb(name: String): Double = named(name).map(_.shuffleWrite).sum / 1e6
  def total(f: Span => Long): Long = spans.map(f).sum
  def phaseS(phase: String): Double = spans.map(_.phaseMs(phase)).sum / 1e3

  /** Spark, Catalyst and driver-gap figures over the whole traced call,
    * whose root span is `root` (wall `rootWallS`). */
  def common(rootWallS: Double, cores: Int): Seq[(String, Double, String)] = {
    val taskS = total(_.taskMs) / 1e3
    val catalyst = Seq("analysis", "optimization", "planning").map(phaseS).sum
    val gap = rootWallS - taskS / cores
    Seq(
      ("catalyst.analysis_s", phaseS("analysis"), "s"),
      ("catalyst.optimization_s", phaseS("optimization"), "s"),
      ("catalyst.planning_s", phaseS("planning"), "s"),
      ("spark.jobs", total(_.jobs).toDouble, "count"),
      ("spark.stages", total(_.stages).toDouble, "count"),
      ("spark.tasks", total(_.tasks).toDouble, "count"),
      ("spark.task_s", taskS, "s"),
      ("spark.job_s", total(_.jobMs) / 1e3, "s"),
      ("spark.shuffle_read_mb", total(_.shuffleRead) / 1e6, "MB"),
      ("spark.shuffle_write_mb", total(_.shuffleWrite) / 1e6, "MB"),
      ("spark.spill_mb", total(_.spill) / 1e6, "MB"),
      ("driver.gap_s", gap, "s"),
      ("driver.other_s", gap - catalyst, "s"))
  }

  /** All spans as JSON lines: name, start, end, parent and trace id, plus
    * what the listeners charged to each. */
  def write(path: java.nio.file.Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")
      val phases = s.phaseMs.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")
      s"""{"trace":${q(s.traceId)},"id":${s.id},"parent":${s.parent},"name":${q(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},"self_s":${selfS(s)},""" +
        s""""jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},"task_ms":${s.taskMs},"job_ms":${s.jobMs},""" +
        s""""shuffle_read_b":${s.shuffleRead},"shuffle_write_b":${s.shuffleWrite},""" +
        s""""spill_b":${s.spill},"phase_ms":{$phases},"attrs":{$attrs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
