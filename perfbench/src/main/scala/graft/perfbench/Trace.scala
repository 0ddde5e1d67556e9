package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Engine work attributed to one span: Spark jobs, stages and tasks, and
  * the task metrics of those tasks.
  */
final class Work {
  var jobs, stages, tasks, shuffleRead, shuffleWrite, spill, cpuNs, peakMem = 0L
  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; cpuNs += o.cpuNs; peakMem = math.max(peakMem, o.peakMem)
  }
}

final case class Span(id: Int, name: String, parent: Option[Span], runId: String,
                      startNs: Long, var endNs: Long = 0L) {
  /** Work of this span and of every span opened inside it. */
  val work = new Work
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written as JSON lines by [[write]].
  *
  * Between [[on]] and [[off]], a SparkListener charges every job start,
  * stage completion and task end to the innermost open span and to each
  * span enclosing it. The listener bus is drained when a span opens and
  * before it closes, so events of one call never land in the next. While off, [[span]] just
  * runs its body: untraced passes carry no listener and no drain.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val spans = ArrayBuffer[Span]()
  @volatile private var open: Span = _

  private val listener = new SparkListener {
    private def charge(f: Work => Unit): Unit = {
      var s = Option(open)
      while (s.isDefined) {
        val w = s.get.work
        w.synchronized(f(w))
        s = s.get.parent
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = charge(_.jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      charge(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      charge { w =>
        w.tasks += 1
        if (m != null) {
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.cpuNs += m.executorCpuTime
          w.peakMem = math.max(w.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }
  @volatile private var enabled = false

  def on(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(listener)
    enabled = true
  }

  def off(): Unit = if (enabled) {
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    enabled = false
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      BusDrain(spark.sparkContext)
      val parent = open
      val s = Span(spans.size, name, Option(parent), runId, System.nanoTime())
      spans += s
      open = s
      try body
      finally {
        s.endNs = System.nanoTime()
        BusDrain(spark.sparkContext)
        open = parent
      }
    }

  /** Closed spans named `name`, in start order. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** The latest span named `name`. */
  def last(name: String): Span = spans.findLast(_.name == name).get

  /** Every span as one JSON object per line. */
  def write(path: Path): Unit = {
    val lines = spans.map { s =>
      val w = s.work
      s"""{"run":"${s.runId}","id":${s.id},"name":"${s.name}","parent":${s.parent.fold(-1)(_.id)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${w.jobs},""" +
        s""""stages":${w.stages},"tasks":${w.tasks},"shuffle_read":${w.shuffleRead},""" +
        s""""shuffle_write":${w.shuffleWrite},"spill":${w.spill},""" +
        s""""cpu_ns":${w.cpuNs},"peak_mem":${w.peakMem}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    ()
  }
}
