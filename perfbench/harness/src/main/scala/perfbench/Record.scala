package perfbench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * comparable with the millisecond stamps Spark puts on its events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def read(path: String): Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[Map[String, Any]])
  def write(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)
}

final case class Span(id: Int, parent: Int, trace: String, name: String,
    start: Double, end: Double)

/** In-memory span log, written out when the run ends. `span` nests: a
  * span opened while another is open on the same thread is its child.
  * When tracing is off nothing is recorded and `span` only runs `f`. */
final class Spans(var enabled: Boolean) {
  val all = ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def add(parent: Int, trace: String, name: String, start: Double, end: Double): Int =
    synchronized {
      val id = all.size + 1
      all += Span(id, parent, trace, name, start, end)
      id
    }

  def current: Int = open.get.headOption.getOrElse(0)

  def span[T](trace: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = add(current, trace, name, Clock.ms, Double.NaN)
      open.set(id :: open.get)
      try f
      finally {
        open.set(open.get.tail)
        synchronized { all(id - 1) = all(id - 1).copy(end = Clock.ms) }
      }
    }

  def toJson: Seq[Map[String, Any]] = synchronized {
    all.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end))
  }
}

/** Raw scheduler counters from Spark's public listener API: one record
  * per job and per stage, task metrics summed per stage. run.py assigns
  * them to passes and spans by submission time. */
final class TaskListener extends SparkListener {
  private val jobs = ArrayBuffer[Map[String, Any]]()
  private val stages = scala.collection.mutable.LinkedHashMap[Int, StageAcc]()

  final class StageAcc {
    var numTasks = 0; var submitMs = 0L; var completeMs = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var inBytes = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var tasks = 0
  }

  private def acc(id: Int) = stages.getOrElseUpdate(id, new StageAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Map("job" -> e.jobId, "submit_ms" -> e.time, "stages" -> e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = acc(i.stageId)
    a.numTasks = i.numTasks
    a.submitMs = i.submissionTime.getOrElse(0L)
    a.completeMs = i.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(e.stageId)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def toJson: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toSeq, "stages" -> stages.toSeq.map { case (id, a) =>
      Map("stage" -> id, "num_tasks" -> a.numTasks, "submit_ms" -> a.submitMs,
        "complete_ms" -> a.completeMs, "tasks" -> a.tasks, "run_ms" -> a.runMs,
        "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "input_bytes" -> a.inBytes,
        "shuffle_read_bytes" -> a.shuffleRead, "shuffle_write_bytes" -> a.shuffleWrite,
        "spill_bytes" -> a.spill)
    })
  }
}
