package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** The benchmark's own spans, and (in a traced run) a SparkListener that
  * records every job, stage and task-metric total the session produces.
  *
  * Spans are recorded on the driving thread only: top-level spans are
  * the run's windows (`setup`, `op`, `read`, `check`, `probe`), nested
  * spans wrap the calls an op makes into one layer. Every Spark job must
  * start and end inside one window; the report checks that. Times are
  * epoch milliseconds, the clock Spark stamps its events with.
  */
final class Trace {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        startMs: Long, endMs: Long, wallNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](kind: String, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - n0
      stack = stack.tail
      spans += Span(id, parent, kind, name, t0, System.currentTimeMillis(), wall)
    }
  }

  /** Seconds taken by the most recent span called `name`. */
  def lastSeconds(name: String): Double =
    spans.reverseIterator.find(_.name == name).map(_.wallNs / 1e9).getOrElse(0.0)

  def spanJson: Seq[Map[String, Any]] = spans.sortBy(_.id).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallNs / 1e9)
  }.toSeq
}

/** Job, stage and task totals for a traced run. Tasks are summed per
  * stage; a stage belongs to the first job that lists it. The time spent
  * inside these callbacks is kept too: it is the listener's own cost.
  */
final class SparkRecorder extends SparkListener {
  final class StageAgg {
    var job = -1
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    var scanRunMs = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Array[Long]] // start, end
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  @volatile var busyNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }
  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs(e.jobId) = Array(e.time, -1L)
    e.stageIds.foreach { s => val a = stage(s); if (a.job < 0) a.job = e.jobId }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_(1) = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      val a = stage(e.stageId)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
      if (m.inputMetrics.bytesRead > 0) a.scanRunMs += m.executorRunTime
    }
  }

  def json: Map[String, Any] = synchronized {
    Map(
      "listener_busy_s" -> busyNs / 1e9,
      "jobs" -> jobs.toSeq.map { case (id, t) => Map("id" -> id, "start_ms" -> t(0), "end_ms" -> t(1)) },
      "stages" -> stages.toSeq.sortBy(_._1).map { case (id, a) =>
        Map("id" -> id, "job" -> a.job, "tasks" -> a.tasks, "run_s" -> a.runMs / 1e3, "cpu_s" -> a.cpuNs / 1e9,
          "gc_s" -> a.gcMs / 1e3, "shuffle_read_bytes" -> a.shuffleRead,
          "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill,
          "input_bytes" -> a.input, "output_bytes" -> a.output,
          "scan_run_s" -> a.scanRunMs / 1e3)
      })
  }
}
