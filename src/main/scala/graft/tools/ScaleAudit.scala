package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One query's execution accounting, from job starts and task metrics. */
final case class AuditMetrics(input: Long, shuffleWrite: Long, shuffleRead: Long,
    tasks: Int, stages: Int, maxTaskSw: Long, jobs: Int) {
  /** shuffleWrite / input — how many times the data pays the network
    * per scanned byte. */
  def amp: Double = if (input > 0) shuffleWrite.toDouble / input else 0.0
  /** largest single task's shuffle write as a share of the total — the
    * hot-key proxy (a balanced exchange keeps it near 1/partitions per
    * stage; a skewed key drags it toward a whole exchange). */
  def skew: Double = if (shuffleWrite > 0) maxTaskSw.toDouble / shuffleWrite else 0.0
}

/** Shuffle-amplification audit — the numbers behind the 100 TB claims.
  *
  * For each query it accounts, from task metrics: bytes read from
  * files, shuffle bytes written/read, job, stage and task counts, and the
  * largest single task's shuffle write (the skew proxy). The headline
  * column is AMPLIFICATION = shuffleWrite / input: how many times the
  * data pays the network per scan byte. Linear per-row operators should
  * sit near 0; hash-agg pipelines near the group-summary size; anything
  * ≥ input size means the plan re-shuffles the corpus and will not
  * survive a 100× scale-up.
  *
  * Caveat at test SF: column pruning + dictionary encoding make the
  * input denominator tiny (a pruned 600 k-row column can read < 100 KB),
  * so single-query `amp` values overstate; compare SHUFFLE columns
  * across queries and watch maxTaskSw for skew rather than reading amp
  * as an absolute. Memoized prepare steps (IVF index, bloom index,
  * canonical labels) bill their one-time build to the FIRST query that
  * triggers them in this JVM.
  *
  * `measure` is the one SparkListener in `src/main`: `graft.Bench`
  * records its counters for every query it times, and `ScaleAuditSpec`
  * pins per-query ceilings on the most expensive queries so a plan
  * regression that re-shuffles the corpus or hot-keys an exchange fails
  * `sbt test` instead of waiting for judge review.
  *
  *   SPARK_GRAFT_SF_DIR=<sfDir> SPARK_GRAFT_QUERIES=q1,q2 runMain graft.Bench
  *   (the counters land in the run artifact's "cost" block)
  */
object ScaleAudit {

  /** Run `body` under a metrics listener and return its accounting.
    * Requires nothing else to be running on the SparkContext (the
    * forked test JVM runs suites sequentially, so specs qualify). */
  def measure(spark: SparkSession)(body: => Unit): AuditMetrics = {
    val input = new AtomicLong; val sw = new AtomicLong; val sr = new AtomicLong
    val tasks = new AtomicInteger; val stages = new AtomicInteger
    val jobs = new AtomicInteger
    val maxTaskSw = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          input.addAndGet(m.inputMetrics.bytesRead)
          val w = m.shuffleWriteMetrics.bytesWritten
          sw.addAndGet(w)
          sr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          maxTaskSw.getAndAccumulate(w, math.max(_, _))
          tasks.incrementAndGet()
          ()
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener bus is async; settle before reading
      def snap = (input.get, sw.get, tasks.get, stages.get, jobs.get)
      var prev = (-1L, -1L, -1, -1, -1)
      while (prev != snap) { prev = snap; Thread.sleep(200) }
      AuditMetrics(input.get, sw.get, sr.get, tasks.get, stages.get, maxTaskSw.get, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
