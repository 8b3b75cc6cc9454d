package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval of the benchmark: name, start, end (epoch ms) and
 *  the span that caused it. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double,
    endMs: Double, attrs: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
}

/**
 * In-memory trace of a run: spans opened by the benchmark's own code
 * around each call into graft, plus one span per Spark job, parented
 * through the job group set before the call, and the stage and task
 * records the layer metrics are summed from. Nothing is written until
 * [[save]].
 */
final class Tracer extends SparkListener {
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val groupSpan = new ConcurrentHashMap[String, java.lang.Long]()
  private val jobs = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val tasks = ArrayBuffer.empty[Array[Double]]

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = synchronized { spans += s }

  /** Jobs submitted under `group` become children of span `id`. */
  def bindGroup(group: String, id: Long): Unit = groupSpan.put(group, id)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, Map("job" -> e.jobId, "start_ms" -> e.time.toDouble,
      "group" -> group.getOrElse(""),
      "parent" -> group.flatMap(g => Option(groupSpan.get(g))).map(_.longValue).getOrElse(-1L),
      "stages" -> e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = Option(jobs.get(e.jobId)).getOrElse(Map("job" -> e.jobId, "parent" -> -1L))
    jobs.put(e.jobId, j ++ Map("end_ms" -> e.time.toDouble,
      "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val rec: Map[String, Any] = Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "tasks" -> s.numTasks,
      "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "scan_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
      "scan_rows" -> (if (m == null) 0L else m.inputMetrics.recordsRead),
      "result_bytes" -> (if (m == null) 0L else m.resultSize))
    synchronized { stages += rec }
  }

  /** Per task: stage, launch and finish (epoch ms), run, cpu and gc seconds. */
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val rec = Array(e.stageId.toDouble, i.launchTime.toDouble, i.finishTime.toDouble,
      if (m == null) 0.0 else m.executorRunTime / 1e3,
      if (m == null) 0.0 else m.executorCpuTime / 1e9,
      if (m == null) 0.0 else m.jvmGCTime / 1e3)
    synchronized { tasks += rec }
  }

  def save(path: String): Unit = synchronized {
    Json.save(path, Map(
      "spans" -> spans.map(_.toMap),
      "jobs" -> jobs.values().asScala.toSeq.sortBy(_("job").asInstanceOf[Int]),
      "stages" -> stages,
      "tasks" -> tasks.map(_.toSeq)))
  }
}
