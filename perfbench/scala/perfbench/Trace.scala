package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counters read from outside the engine: a `SparkListener` for jobs,
  * stages, tasks and bytes, and the JVM's collector beans for GC time.
  * The listener is registered only between `attach()` and `detach()`,
  * so untraced work runs without it. Everything is cumulative; callers
  * take differences of `snapshot()`s. */
final class Trace(spark: SparkSession) {
  import Trace.Counts

  private var jobs, stages, tasks, shuffleBytes, inputBytes, spillBytes, peakExecMem = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (start ms, end ms) of every finished job, in end order */
  private val spans = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => spans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      stages += 1; tasks += e.stageInfo.numTasks
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Trace.this.synchronized {
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        inputBytes += m.inputMetrics.bytesRead
        spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(listener)
    attached = false
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def snapshot(): Counts = synchronized {
    Counts(jobs, stages, tasks, shuffleBytes, inputBytes, spillBytes, peakExecMem, gcMs,
      spans.size)
  }

  /** Peak task execution memory since the last reset. */
  def resetPeak(): Unit = synchronized { peakExecMem = 0L }

  /** Milliseconds of `[from, to]` covered by at least one job among the
    * spans recorded since index `since`. */
  def jobCoverMs(since: Int, from: Long, to: Long): Long = {
    val xs = synchronized { spans.slice(since, spans.size).toSeq }
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    xs.foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }

  /** The listener bus is asynchronous: wait until two reads 50 ms apart
    * agree (or give up after 5 s) before trusting a snapshot. */
  def drain(): Counts = {
    var prev = snapshot()
    var rounds = 0
    while (rounds < 100) {
      Thread.sleep(50)
      val now = snapshot()
      if (now == prev) return now
      prev = now
      rounds += 1
    }
    prev
  }
}

object Trace {
  final case class Counts(
      jobs: Long, stages: Long, tasks: Long, shuffleBytes: Long, inputBytes: Long,
      spillBytes: Long, peakExecMem: Long, gcMs: Long, jobSpans: Int) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      shuffleBytes - o.shuffleBytes, inputBytes - o.inputBytes, spillBytes - o.spillBytes,
      peakExecMem, gcMs - o.gcMs, jobSpans)
  }
}
