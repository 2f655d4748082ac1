package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.streaming.StreamingQueryListener

/** R3/R4 — the observability surface the reference exposes via Prometheus
  * counters (`pkg/metrics/metrics.go:14-79`) and the `/info` status JSON
  * (`pkg/apiservice/api_info.go:38-129`), rebuilt on Spark primitives:
  * a thread-safe counter registry fed by the pipeline plus a
  * `StreamingQueryListener` for per-batch row counts and failure
  * detection. At 100 TB you are blind without this: it is how an
  * operator sees a table stall, a version lag, or an error budget burn.
  */
final class ReplicationMetrics {

  /** Counter names mirror `pkg/metrics/metrics.go` (table-labelled). */
  object Names {
    val SnapshotTotalBytes = "snapshot_total_size"
    val SnapshotLoadedBytes = "snapshot_loaded_size"
    val IncrementPendingBytes = "increment_pending_size"
    val IncrementLoadedBytes = "increment_loaded_size"
    val TableVersion = "table_versions"
    val ErrorCount = "error_count"
    val RowsLoaded = "rows_loaded"
    val RowsQuarantined = "rows_quarantined"
    val BatchesProcessed = "batches_processed"
  }

  private val counters = new ConcurrentHashMap[(String, String), AtomicLong]()
  // names ever written by `set`; every other name is only `add`ed
  private val gauges = ConcurrentHashMap.newKeySet[String]()

  private def cell(name: String, table: String): AtomicLong =
    counters.computeIfAbsent((name, table), _ => new AtomicLong(0))

  def add(name: String, table: String, delta: Long): Unit = cell(name, table).addAndGet(delta)
  def set(name: String, table: String, value: Long): Unit = {
    gauges.add(name)
    cell(name, table).set(value)
  }

  /** A name written by `set` is a gauge; one only ever `add`ed is a
    * monotonic counter. */
  def isGauge(name: String): Boolean = gauges.contains(name)
  def get(name: String, table: String): Long =
    Option(counters.get((name, table))).map(_.get()).getOrElse(0L)

  def tables: Seq[String] =
    counters.keySet().toArray(Array.empty[(String, String)]).map(_._2).distinct.sorted.toSeq

  def snapshot(table: String): Map[String, Long] =
    counters.entrySet().toArray(Array.empty[java.util.Map.Entry[(String, String), AtomicLong]])
      .filter(_.getKey._2 == table)
      .map(e => e.getKey._1 -> e.getValue.get()).toMap

  /** Every (name, table, value) cell — the /metrics exposition reads this. */
  def all: Seq[(String, String, Long)] =
    counters.entrySet().toArray(Array.empty[java.util.Map.Entry[(String, String), AtomicLong]])
      .map(e => (e.getKey._1, e.getKey._2, e.getValue.get())).toSeq
}

/** `/info` response shape (`pkg/apiservice/api_info.go:38-70`): service
  * status plus per-table {stage, status, error_message}. */
final class StatusApi {

  object Stage {
    val Unknown = "unknown"
    val LoadingSnapshot = "loading_snapshot"
    val LoadingIncremental = "loading_incremental"
    val Finished = "finished"
  }

  private case class TableInfo(var stage: String, var status: String, var error: String)
  private val tables = new ConcurrentHashMap[String, TableInfo]()
  @volatile private var serviceError: String = ""

  private def info(table: String): TableInfo =
    tables.computeIfAbsent(table, _ => TableInfo(Stage.Unknown, "normal", ""))

  def setStage(table: String, stage: String): Unit = synchronized { info(table).stage = stage }

  /** First fatal error wins, like `SetTableFatalError`. */
  def setFatalError(table: String, err: Throwable): Unit = synchronized {
    val t = info(table)
    if (t.status != "fatal_error") {
      t.status = "fatal_error"
      t.error = Option(err.getMessage).getOrElse(err.toString)
    }
  }

  def setServiceError(msg: String): Unit = serviceError = msg

  def stageOf(table: String): String = info(table).stage
  def statusOf(table: String): String = info(table).status

  /** The `/info` JSON document. */
  def render: String = synchronized {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val status = if (serviceError.isEmpty) "running" else "fatal_error"
    val ts = tables.entrySet().toArray(Array.empty[java.util.Map.Entry[String, TableInfo]])
      .sortBy(_.getKey)
      .map { e =>
        val t = e.getValue
        s""""${esc(e.getKey)}": {"stage": "${t.stage}", "status": "${t.status}", "error_message": "${esc(t.error)}"}"""
      }
    s"""{"status": "$status", "error_message": "${esc(serviceError)}", "tables_info": {${ts.mkString(", ")}}}"""
  }
}

/** Bridges Structured Streaming progress events into the metrics/status
  * registries. Query names follow `graft:{schema}.{table}` (set by
  * IncrementalPipeline.start); the metric label is the table name, same
  * as the pipeline's own counters. */
final class GraftStreamingListener(metrics: ReplicationMetrics, status: StatusApi)
    extends StreamingQueryListener {

  private def tableOf(name: String): Option[String] =
    Option(name).filter(_.startsWith("graft:"))
      .map(_.stripPrefix("graft:"))
      .map(qualified => qualified.substring(qualified.indexOf('.') + 1))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    tableOf(e.name).foreach(status.setStage(_, "loading_incremental"))

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    tableOf(e.progress.name).foreach { t =>
      metrics.add(metrics.Names.RowsLoaded, t, e.progress.numInputRows)
      metrics.add(metrics.Names.BatchesProcessed, t, 1)
    }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach { msg =>
      // name is not carried on termination events; record a service-level
      // error (per-table fatal errors are set by the driver's catch).
      metrics.add(metrics.Names.ErrorCount, "_service", 1)
      status.setServiceError(msg)
    }
}
