package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval around a call into the program. Times are wall
  * clock milliseconds, so they compare with the listener's event times.
  */
final case class Span(id: Int, name: String, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** What the listener saw for one Spark job, attributed to a span. */
final case class JobRecord(
    jobId: Int,
    span: Int,
    startMs: Long,
    endMs: Long,
    stages: Int,
    tasks: Int,
    taskRunMs: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long)

/** Spans around the benchmark's own calls into the program, plus a
  * SparkListener that attributes every job, stage and task to the span
  * open when the job was submitted.
  *
  * Attribution order: the span id the calling thread set as a local
  * property (Spark copies local properties onto the threads that run a
  * SQL execution's stages, AQE query-stage jobs included); else the span
  * already seen for the job's `spark.sql.execution.id`; else the
  * innermost span whose interval holds the job's start time.
  */
final class Tracer(sc: SparkContext) {
  private val SpanProp = "perfbench.span"
  private val ExecProp = "spark.sql.execution.id"

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[(Int, Long)]
  private var nextId = 1

  private case class JobStart(jobId: Int, span: Option[Int], exec: Option[String],
      startMs: Long, stageIds: Seq[Int])
  private case class StageDone(stageId: Int, tasks: Int)
  private final class TaskSums {
    var runMs = 0L; var shuffleWrite = 0L; var spill = 0L
  }

  private val jobStarts = new ConcurrentLinkedQueue[JobStart]()
  private val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stagesDone = new ConcurrentLinkedQueue[StageDone]()
  private val taskSums = new ConcurrentHashMap[Int, TaskSums]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      jobStarts.add(JobStart(e.jobId, prop(SpanProp).map(_.toInt), prop(ExecProp),
        e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.add(StageDone(e.stageInfo.stageId, e.stageInfo.numTasks))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val s = taskSums.computeIfAbsent(e.stageId, _ => new TaskSums)
        s.synchronized {
          s.runMs += m.executorRunTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  def start(): Unit = sc.addSparkListener(listener)

  /** Drain the listener bus, detach the listener, and return every job. */
  def stop(): Seq[JobRecord] = {
    org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(sc)
    sc.removeSparkListener(listener)
    jobs()
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    open = (id, System.currentTimeMillis()) :: open
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      val (_, t0) = open.head
      open = open.tail
      spans += Span(id, name, t0, System.currentTimeMillis())
      sc.setLocalProperty(SpanProp, open.headOption.map(_._1.toString).orNull)
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  private def jobs(): Seq[JobRecord] = {
    val starts = jobStarts.asScala.toSeq.sortBy(_.jobId)
    val stageTasks = stagesDone.asScala.map(s => s.stageId -> s.tasks).toMap
    val execSpan = mutable.Map[String, Int]()
    starts.foreach(j => for (s <- j.span; x <- j.exec) execSpan.getOrElseUpdate(x, s))
    def byTime(ms: Long): Int =
      spans.filter(s => s.startMs <= ms && ms <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(0)
    // a stage reused (skipped) by a later job belongs to the job that ran it
    val claimed = mutable.Set[Int]()
    starts.map { j =>
      val span = j.span.orElse(j.exec.flatMap(execSpan.get)).getOrElse(byTime(j.startMs))
      val run = j.stageIds.filter(id => stageTasks.contains(id) && claimed.add(id))
      val sums = run.flatMap(id => Option(taskSums.get(id)))
      JobRecord(j.jobId, span, j.startMs,
        Option(jobEnds.get(j.jobId)).map(_.longValue).getOrElse(j.startMs),
        run.size, run.map(stageTasks).sum,
        sums.map(_.runMs).sum, sums.map(_.shuffleWrite).sum,
        sums.map(_.spill).sum)
    }
  }
}

object Tracer {
  /** Seconds of `[startMs, endMs]` not covered by any job interval. */
  def gapSeconds(startMs: Long, endMs: Long, jobs: Seq[JobRecord]): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, startMs), math.min(j.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (endMs - startMs - covered) / 1000.0
  }
}
