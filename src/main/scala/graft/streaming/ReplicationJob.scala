package graft.streaming

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.snapshot.SnapshotLoader

/** Per-table replication driver (R1 run modes + R2 parallel driver).
  *
  * The reference runs one goroutine per table with a WaitGroup and
  * error-to-status collection (`cmd/core.go:263-293`); here each table is
  * one streaming query on a shared SparkSession — snapshot phases run in
  * parallel on a driver thread pool, streams run concurrently under
  * Spark's scheduler, and the caller can
  * `spark.streams.awaitAnyTermination()`. Stage gating
  * (snapshot-then-increment, M6/M7) mirrors `cmd/core.go:184-226`; stages
  * and fatal errors surface through [[StatusApi]] exactly like the
  * reference's `/info`.
  */
object ReplicationJob {

  sealed trait RunMode
  case object Full extends RunMode
  case object SnapshotOnly extends RunMode
  case object IncrementalOnly extends RunMode
  /** Reference `cmd/core.go:36`: full replication with the HTTP API
    * service bound for the job's lifetime (`runWithServer`,
    * `cmd/core.go:295-316`). Use [[replicateTablesCloud]]. */
  case object Cloud extends RunMode
  /** Reference `cmd/s3.go`/`cmd/gcs.go`: dump the snapshot as
    * dumpling-layout CSV to storage, no warehouse/merge stage. */
  case object ExportOnly extends RunMode

  /** One table's replication inputs: config + lazily-built snapshot. */
  final case class TableJob(cfg: PipelineConfig, snapshot: () => DataFrame, snapshotDir: String)

  /** One table's replication outcome: a running stream or an error. */
  final case class TableHandle(
      table: String,
      query: Option[StreamingQuery],
      error: Option[Throwable])

  /** Snapshot-load if needed, then start the increment stream. The
    * snapshot and changefeed share `cfg.startTso`; change events with
    * commit_ts ≤ startTso are filtered (and would be harmless anyway —
    * keyed MERGE is idempotent, SURVEY §7.4(5)). */
  def replicateTable(
      spark: SparkSession,
      snapshot: => DataFrame,
      snapshotDir: String,
      cfg: PipelineConfig,
      mode: RunMode = Full,
      status: StatusApi = new StatusApi,
      metrics: ReplicationMetrics = new ReplicationMetrics): Option[StreamingQuery] = {
    val table = cfg.tableName
    if (mode == ExportOnly) {
      status.setStage(table, status.Stage.LoadingSnapshot)
      // binary dialect follows the target warehouse (hex everywhere,
      // base64 for bigquery) like `--csv-output-dialect` (cmd/core.go:59-73)
      SnapshotLoader.writeSnapshotCsv(spark, snapshot, snapshotDir, cfg.seed, cfg.binaryDialect)
      status.setStage(table, status.Stage.Finished)
      return None
    }
    val target = cfg.targetTable(spark)
    if (mode != IncrementalOnly && !SnapshotLoader.isLoaded(snapshotDir, cfg.seed)) {
      status.setStage(table, status.Stage.LoadingSnapshot)
      SnapshotLoader.load(spark, snapshot, target, snapshotDir, cfg.seed)
      val bytes = target.currentSizeBytes
      metrics.set(metrics.Names.SnapshotTotalBytes, table, bytes)
      metrics.set(metrics.Names.SnapshotLoadedBytes, table, bytes)
    }
    if (mode == SnapshotOnly) {
      status.setStage(table, status.Stage.Finished)
      None
    } else {
      status.setStage(table, status.Stage.LoadingIncremental)
      Some(new IncrementalPipeline(spark, cfg, metrics).start())
    }
  }

  /** R2: drive N tables concurrently. Snapshot loads fan out on the
    * driver pool; each table that reaches the increment stage runs as its
    * own streaming query. A failing table is recorded (status + error
    * counter) without taking down its siblings — the per-goroutine
    * `onError` of `cmd/core.go:263-293`. */
  def replicateTables(
      spark: SparkSession,
      jobs: Seq[TableJob],
      mode: RunMode = Full,
      status: StatusApi = new StatusApi,
      metrics: ReplicationMetrics = new ReplicationMetrics)(
      implicit ec: ExecutionContext = ExecutionContext.global): Seq[TableHandle] = {
    val futures = jobs.map { j =>
      Future {
        Try(replicateTable(spark, j.snapshot(), j.snapshotDir, j.cfg, mode, status, metrics))
      }.map(j.cfg.tableName -> _)
    }
    Await.result(Future.sequence(futures), Duration.Inf).map {
      case (table, Success(q)) => TableHandle(table, q, None)
      case (table, Failure(e)) =>
        status.setFatalError(table, e)
        metrics.add(metrics.Names.ErrorCount, table, 1)
        TableHandle(table, None, Some(e))
    }
  }

  /** R1 `cloud` mode (`runWithServer`, `cmd/core.go:295-316`): bind the
    * `/info` + `/metrics` API first, then replicate like Full — the
    * operator can observe the job from its first snapshot byte. The
    * caller owns the returned server (stop it when the job ends). */
  def replicateTablesCloud(
      spark: SparkSession,
      jobs: Seq[TableJob],
      status: StatusApi = new StatusApi,
      metrics: ReplicationMetrics = new ReplicationMetrics,
      apiPort: Int = 0)(
      implicit ec: ExecutionContext = ExecutionContext.global): (ApiServer, Seq[TableHandle]) = {
    val api = new ApiServer(status, metrics, apiPort)
    api.start()
    (api, replicateTables(spark, jobs, Cloud, status, metrics))
  }
}
