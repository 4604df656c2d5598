package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work per job group, counted by the benchmark's own listener.
  * The tracer gives every span its own job group, so each job, stage
  * and task is charged to the innermost span that launched it.
  */
final class Counters extends SparkListener {
  import Counters._

  private val stageGroup = TrieMap.empty[Int, String]
  private val byGroup = TrieMap.empty[String, Array[Long]]

  private def add(group: String, field: Int, v: Long): Unit = {
    val a = byGroup.getOrElseUpdate(group, new Array[Long](Fields.size))
    a.synchronized { a(field) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        e.stageIds.foreach(stageGroup(_) = g)
        add(g, Jobs, 1)
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get(e.stageInfo.stageId).foreach(add(_, Stages, 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageGroup.get(e.stageId).foreach { g =>
      add(g, Tasks, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(g, CpuNs, m.executorCpuTime)
        add(g, GcMs, m.jvmGCTime)
        add(g, ShuffleRecords, m.shuffleWriteMetrics.recordsWritten)
        add(g, BytesRead, m.inputMetrics.bytesRead)
        // the Spark UI's scheduler delay: task wall time not spent
        // deserializing, running or serializing the result
        add(g, SchedulerDelayMs, math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime))
      }
    }

  def of(group: String): Map[String, Long] =
    byGroup.get(group).map(a => Fields.zip(a).toMap).getOrElse(Map.empty)
}

object Counters {
  val Fields: Seq[String] = Seq("jobs", "stages", "tasks", "cpu_ns", "gc_ms",
    "shuffle_records", "bytes_read", "scheduler_delay_ms")
  private val Jobs = 0
  private val Stages = 1
  private val Tasks = 2
  private val CpuNs = 3
  private val GcMs = 4
  private val ShuffleRecords = 5
  private val BytesRead = 6
  private val SchedulerDelayMs = 7
}

/** In-memory spans: name, start, end, parent, request id. Spans nest
  * through a stack (the traced replay is single-threaded) and are
  * written out when the run ends.
  */
final class Tracer(sc: SparkContext) {
  final class Span(val id: Int, val parent: Int, val name: String, val req: Int,
                   val startNs: Long) {
    var endNs: Long = 0L
  }

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  val counters = new Counters
  sc.addSparkListener(counters)

  private var stack: List[Span] = Nil
  var request: Int = -1

  private def group(s: Span) = s"perfbench-span-${s.id}"

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, request, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(group(s), name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Every span with the Spark work charged to it; call after the
    * listener bus has drained.
    */
  def records: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "spark" -> counters.of(group(s)))
  }
}
