package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Span timers and engine counters, attached from outside the program.
  *
  * With tracing off only the lost-accumulator log counter is attached
  * (it reads log lines the program writes anyway). With tracing on, a
  * SparkListener attributes every job, stage and task to the phase the
  * benchmark was in when the job started, and `span` records named
  * intervals in memory. Nothing is written until the run ends. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[String]

  /** Times `body` as span `name`, nested under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.headOption.getOrElse("")
      open = name :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(name, parent, t0, System.nanoTime())
        open = open.tail
      }
    }

  /** Jobs started inside `body` are counted under phase `name`. */
  def phase[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, name)
    try body finally sc.setLocalProperty(PhaseKey, prev)
  }

  final class Counts {
    var jobs = 0L
    var stages = 0L
    var retriedStages = 0L
    var tasks = 0L
    var failedTasks = 0L
    var taskMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val taskDurations = mutable.ArrayBuffer[Long]()
  }

  private val counts = mutable.Map[String, Counts]()
  private val stagePhase = mutable.Map[Int, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties).flatMap(ps =>
        Option(ps.getProperty(PhaseKey))).getOrElse("other")
      counts.getOrElseUpdate(p, new Counts).jobs += 1
      e.stageIds.foreach(id => stagePhase(id) = p)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val c = counts.getOrElseUpdate(
          stagePhase.getOrElse(si.stageId, "other"), new Counts)
        c.stages += 1
        if (si.attemptNumber() > 0) c.retriedStages += 1
        val m = si.taskMetrics
        if (m != null) {
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = counts.getOrElseUpdate(
        stagePhase.getOrElse(e.stageId, "other"), new Counts)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      c.taskMs += e.taskInfo.duration
      c.taskDurations += e.taskInfo.duration
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Counters of the phases whose name starts with `prefix`, once every
    * event posted so far has arrived. */
  def counts(prefix: String): Counts = {
    if (enabled) ListenerBusDrain(spark.sparkContext)
    synchronized {
      val out = new Counts
      counts.collect { case (k, c) if k.startsWith(prefix) => c }.foreach {
        c =>
          out.jobs += c.jobs; out.stages += c.stages
          out.retriedStages += c.retriedStages; out.tasks += c.tasks
          out.failedTasks += c.failedTasks; out.taskMs += c.taskMs
          out.shuffleRead += c.shuffleRead; out.shuffleWrite += c.shuffleWrite
          out.spill += c.spill; out.taskDurations ++= c.taskDurations
      }
      out
    }
  }

  /** Writes the spans, as JSON lines with times in ms from `originNs`. */
  def writeSpans(file: java.io.File, originNs: Long): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(file.toPath)
    try spans.foreach { s =>
      w.write(Json.obj(Seq("name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.startNs - originNs) / 1e6,
        "dur_ms" -> (s.endNs - s.startNs) / 1e6)))
      w.newLine()
    } finally w.close()
  }

  def close(): Unit =
    if (enabled) spark.sparkContext.removeSparkListener(listener)
}

object Trace {
  val PhaseKey = "perfbench.phase"

  final case class Span(name: String, parent: String, startNs: Long,
      endNs: Long)

  /** Counts `non-existent accumulator` errors: SQL metrics lost because
    * their QueryExecution was collected before its tasks reported. */
  val lostAccumulatorErrors = new AtomicLong()

  def attachLogCounter(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("perfbench-lost-accumulators", null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val thrown = Option(e.getThrown).flatMap(t => Option(t.getMessage))
        if ((e.getMessage.getFormattedMessage +: thrown.toSeq)
            .exists(_.contains("non-existent accumulator")))
          lostAccumulatorErrors.incrementAndGet()
      }
    }
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
  }

  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
