package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Clock shared by spans and listener events: seconds since the run's
  * base instant. Spans use the monotonic clock; Spark reports events in
  * wall-clock milliseconds, which `wallMs` maps onto the same axis. */
final class Clock {
  private val baseNs = System.nanoTime()
  private val baseWallMs = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - baseNs) / 1e9
  def wallMs(ms: Long): Double = (ms - baseWallMs) / 1e3
}

final case class Span(name: String, start: Double, end: Double)

/** Per-op span buffer, kept in memory until the run writes its output.
  * Every span is a child of its op's span (the op record's t0..t1). */
final class Spans(clock: Clock, enabled: Boolean) {
  val items = mutable.ArrayBuffer[Span]()
  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = clock.now()
      try body finally items += Span(name, t0, clock.now())
    }
}

/** Execution counters per job group (one group per op). Attribution goes
  * job → stages → tasks, using the job group the op's thread set. */
final class ExecListener(clock: Clock) extends SparkListener {
  final class Job(val group: String, val start: Double) {
    @volatile var end: Double = Double.NaN
    var stages = 0; var tasks = 0L
    var runS = 0.0; var cpuS = 0.0; var schedS = 0.0; var maxTaskS = 0.0
    var gcS = 0.0; var shuffleW = 0L; var shuffleR = 0L; var spill = 0L
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs.put(e.jobId, new Job(g, clock.wallMs(e.time)))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = clock.wallMs(e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    job(e.stageInfo.stageId).foreach(j => j.synchronized { j.stages += 1 })
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- job(e.stageId); m <- Option(e.taskMetrics)) j.synchronized {
      val info = e.taskInfo
      j.tasks += 1
      j.runS += m.executorRunTime / 1e3
      j.cpuS += m.executorCpuTime / 1e9
      j.schedS += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime) / 1e3
      j.maxTaskS = math.max(j.maxTaskS, info.duration / 1e3)
      j.gcS += m.jvmGCTime / 1e3
      j.shuffleW += m.shuffleWriteMetrics.bytesWritten
      j.shuffleR += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.diskBytesSpilled
    }
  private def job(stage: Int): Option[Job] =
    Option(stageJob.get(stage)).flatMap(id => Option(jobs.get(id)))

  def jobsOf(group: String): Seq[Job] =
    jobs.values.asScala.filter(_.group == group).toSeq.sortBy(_.start)
}

/** Every streaming progress report delivered while registered. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
}
