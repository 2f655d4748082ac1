package graft.streaming

import graft.tools.Failpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.catalog.{SchemaEvolution, SchemaRegistry}
import graft.cdc.{Envelope, PathCodec}
import graft.merge.ChangeApply
import graft.snapshot.TargetTable
import graft.storage.Publish
import graft.types.TableDefinition

/** The streaming core (SURVEY §2.9 / `replicate/increment.go` rethought
  * as Structured Streaming):
  *
  *  - `readStream` CSV file source over the TiCDC increment layout — the
  *    source's processed-file log replaces the reference's per-file
  *    `.checkpoint` markers (M2), `maxFilesPerTrigger` replaces the
  *    poll-interval pacing (M1).
  *  - `foreachBatch`: rows are grouped by tableVersion parsed from the
  *    file path, versions processed ascending so DDL applies before that
  *    version's DML (M5/O1); each group is envelope-projected, filtered
  *    to this session's table (P4) and `commit_ts > startTso` (M6), then
  *    window-deduped and MERGEd (A1 + J1/J2) into the target.
  *  - restart: schema registry and target state live on storage; the
  *    checkpoint dir replays unprocessed files; merge idempotence makes
  *    re-delivery harmless (M7).
  *
  * Scale: file listing and CSV parsing are executor-parallel. Per batch
  * the driver collects one row per file (path + dirty flag, thousands at
  * most at a 64 MiB CDC file cap), and it also walks the table's
  * `{schema}/{table}` tree twice: the schema-registry load
  * (`registry()`) and the pending-bytes sum (`walkCdcBytes`). Both walks
  * are O(retained CDC history), not O(batch) — ROADMAP item 2.
  */
final case class PipelineConfig(
    incrementRoot: String,
    schemaName: String,
    tableName: String,
    targetRoot: String,
    checkpointDir: String,
    seed: TableDefinition,
    startTso: Long = 0L,
    binaryDialect: String = "hex",
    maxFilesPerTrigger: Int = 1000,
    triggerMs: Long = 12000, // flushInterval/5 analog (cmd/core.go:284)
    // catch-up-and-stop: Trigger.AvailableNow drains every pending CDC
    // file (still in maxFilesPerTrigger-sized batches, same checkpoint)
    // and terminates — the scheduled-batch cousin of the reference's
    // always-on loop, for cron-style replication without a resident job
    availableNow: Boolean = false,
    // PK-hash buckets for the partition-scoped merge. SIZING RULE: a
    // merge rewrites every bucket containing a touched key, so buckets
    // must be ≫ distinct keys per batch (or rewrites approach O(table))
    // AND each bucket must stay rewrite-sized (a few GB): pick
    // numBuckets ≈ max(64 × keysPerBatch, tableBytes / 2 GB). The
    // default suits the ~GB range; at 100 TB set it explicitly (e.g.
    // 50 000 → 2 GB buckets). The bucket_spec marker pins the choice at
    // table creation — it cannot drift silently afterwards.
    numBuckets: Int = 256,
    // When set, every applied version also renders the DDL/MERGE text
    // the reference would have executed on that warehouse, appended to
    // `{targetRoot}/_warehouse_sql/` — a migration audit trail proving
    // in-engine merges ≡ warehouse statements.
    warehouseSqlDialect: Option[graft.dialects.WarehouseDialect] = None,
    // (groupCol, valueCol): maintain a grouped COUNT/SUM view of the
    // target at `{targetRoot}/_view` incrementally — per merge tick the
    // view updates from the batch's touched rows only (ViewMaintain,
    // O(touched keys)), bootstrapped from one table scan on first tick
    // and recomputed only when DDL rewrites the table anyway.
    maintainView: Option[(String, String)] = None,
    // Dead-letter lane: when set, rows failing the envelope parse
    // (structurally corrupt, bad flag, unparseable commit-ts) land
    // under `{quarantineDir}/version={vId}/` with (file, reason, raw)
    // and the trigger COMPLETES; unset keeps the FAILFAST contract (one corrupt
    // row kills the trigger loudly). rows_landed + rows_quarantined =
    // rows_seen — the accounting the cdc_quarantine_accounting oracle
    // row hash-gates.
    quarantineDir: Option[String] = None) {

  /** The target is bucketed on the seed PK so merges rewrite only
    * touched buckets. PK columns are fixed for a table's lifetime (the
    * reference rejects PK-changing DDL); the bucket_spec marker enforces
    * it. */
  def targetTable(spark: SparkSession): TargetTable =
    new TargetTable(spark, targetRoot, seed.mergeKeys, numBuckets)
}

final class IncrementalPipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    metrics: ReplicationMetrics = new ReplicationMetrics) {

  private val target = cfg.targetTable(spark)

  private def registry(): SchemaRegistry =
    SchemaRegistry.loadFromDir(cfg.incrementRoot, cfg.schemaName, cfg.tableName)
      .map(r => r.get(cfg.seed.tableVersion).fold(r.register(cfg.seed))(_ => r))
      .getOrElse(SchemaRegistry(cfg.seed))

  def start(): StreamingQuery = {
    // the stream carries raw LINES, not parsed columns: the envelope
    // width is a per-table-version property, and a csv-source stream
    // would bake the width in at start — an ADD COLUMN arriving while
    // the query runs would then kill it. Lines are parsed per version
    // inside processBatch (Envelope.parseLines) at that version's width.
    val raw = spark.readStream
      .format("text")
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger.toString)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "CDC*.csv")
      .load(s"${cfg.incrementRoot}/${cfg.schemaName}/${cfg.tableName}")
      .select(col("value"), col("_metadata.file_path").as("_src_path"))
    raw.writeStream
      .queryName(s"graft:${cfg.schemaName}.${cfg.tableName}")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(
        if (cfg.availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime(s"${cfg.triggerMs} milliseconds"))
      .foreachBatch((batch: DataFrame, batchId: Long) => processBatch(batch, batchId))
      .start()
  }

  /** One micro-batch = the reference's one poll tick (`handleNewFiles`). */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    // the one driver probe per batch: one row per FILE — small by
    // construction (64 MiB cap per CDC file); rows themselves never leave
    // the executors. A file holding a quote-unbalanced line holds a
    // record whose quoted field embeds a newline — the line source split
    // it, so those files (and only those) take the multiLine repair read
    // in place of their already-streamed lines. No files = empty batch.
    val fileFlags = batch.groupBy(col("_src_path"))
      .agg(max(Envelope.quoteUnbalanced(col("value"))).as("dirty"))
      .collect()
    if (fileFlags.isEmpty) return
    val files = fileFlags.map(_.getString(0))
    val dirtyFiles: Set[String] = fileFlags.filter(_.getBoolean(1)).map(_.getString(0)).toSet
    val reg = registry()
    val byVersion: Seq[(Long, Seq[String])] = files
      .flatMap(p => PathCodec.parse(p) match {
        case PathCodec.DmlFile(k, _, path) if k.schema == cfg.schemaName && k.table == cfg.tableName =>
          Some(k.tableVersion -> path)
        case _ => None
      })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toSeq
      .sortBy(_._1)

    var curDef = currentDef(reg)
    byVersion.foreach { case (version, paths) =>
      // a DML file's version must have its schema.json VISIBLE — on
      // eventually-consistent storage the data can list before its
      // schema does, and falling back to an older definition would
      // silently drop the new columns forever (the file source never
      // replays consumed files). Failing the batch retries it after the
      // schema walk catches up — the reference forces the same ordering
      // with its fake `-1` DDL sort key (`replicate/increment.go:283`).
      val defAt = reg.get(version).getOrElse(sys.error(
        s"schema.json for table version $version not visible yet under " +
          s"${cfg.incrementRoot}/${cfg.schemaName}/${cfg.tableName}; failing batch for retry"))
      val (dirty, clean) = paths.partition(dirtyFiles.contains)
      val vId = s"b${batchId}_v$version"
      val raw = cfg.quarantineDir match {
        case None =>
          // FAILFAST contract: one corrupt row kills the trigger loudly
          val cleanLines = Envelope.parseLines(
            batch.filter(col("_src_path").isin(clean: _*)), defAt.columns.size)
          if (dirty.isEmpty) cleanLines
          else {
            val repaired = Envelope.parseFiles(spark, dirty, defAt.columns.size)
            if (clean.isEmpty) repaired else cleanLines.unionByName(repaired)
          }
        case Some(_) =>
          // dead-letter lane: permissive parse, corrupt rows land in the
          // quarantine table (idempotently per version id), the good
          // rows continue — the trigger completes
          val cleanSplit = Envelope.parseLinesSplit(
            batch.filter(col("_src_path").isin(clean: _*)), defAt.columns.size)
          val split =
            if (dirty.isEmpty) cleanSplit
            else {
              val repaired = Envelope.parseFilesSplit(spark, dirty, defAt.columns.size)
              if (clean.isEmpty) repaired else cleanSplit.unionByName(repaired)
            }
          // consumed twice (quarantine land + good rows) — one parse
          val cached = split.cache()
          try {
            val bad = cached.filter(col(Envelope.ReasonCol).isNotNull)
              .select(col("_src_path").as("file"),
                col(Envelope.ReasonCol).as("reason"),
                col("value").as("raw"))
            val quarantined = landQuarantine(bad, vId)
            if (quarantined > 0)
              metrics.add(metrics.Names.RowsQuarantined, cfg.tableName, quarantined)
            cached.filter(col(Envelope.ReasonCol).isNull)
              .drop(Envelope.ReasonCol)
              .localCheckpoint() // pin: the cache is unpersisted below
          } finally {
            cached.unpersist()
            ()
          }
      }
      val rows = Envelope.project(raw, defAt.columns, cfg.binaryDialect)
      val rawChanges = Envelope
        .tableFilter(rows, cfg.schemaName, cfg.tableName)
        .filter(col(Envelope.CommitTsCol) > cfg.startTso)
      // PK-less tables merge on the FULL ROW IMAGE (mergeKeys falls back
      // to all columns), so an Update event cannot name the image it
      // replaces — applying it would land a silent duplicate insert and
      // strand the old image forever. Fail LOUDLY and BEFORE dedup: a
      // later exact-same-image event in the same tick would mask the
      // Update from the deduped frame and the corruption would land
      // without an error. The PRE-dedup frame is cached first for
      // PK-less tables so the guard and the dedup read one cache —
      // detection is exact either way; the isEmpty probe is a limit-1
      // job, so it only pins the partitions it scanned and the dedup
      // may still parse the rest of the CSV once more (a guard-hit is
      // the failure path, so the extra parse is never steady-state
      // cost).
      val changes =
        if (defAt.pkColumns.isEmpty) rawChanges.cache() else rawChanges
      if (defAt.pkColumns.isEmpty &&
          !changes.filter(col(Envelope.FlagCol) === Envelope.Update).isEmpty) {
        changes.unpersist()
        sys.error(s"PK-less table ${cfg.schemaName}.${cfg.tableName}: Update " +
          "events are not replicable by full-row identity; configure the " +
          "changefeed to emit delete+insert pairs")
      }
      // `latest` is consumed up to three times per version (touched-bucket
      // key collect, then applyLatest's upsert rows + anti-join keys) —
      // cache it so the CSV parse + dedup hash-agg run once per trigger,
      // not once per consumer (`ChangeApply.applyChanges` caches for the
      // same reason). Unpersisted after the version commit.
      val latest = ChangeApply.dedupLatestPerKey(changes, defAt.mergeKeys).cache()
      // Out-of-order-delivery guard: the merge applies each key's
      // latest IN-BATCH image unconditionally, so a file delivered
      // AFTER files carrying newer commit-ts (a listing anomaly on an
      // eventually-consistent store, or a mis-ordered backfill) would
      // silently stomp newer images with older ones. A commit-ts
      // high-water mark on the target makes that loud: any NEW batch
      // carrying events at-or-under the applied watermark fails the
      // trigger (replays are exempt — their version id is already
      // materialized, and the idempotent no-op path handles them).
      // One tiny agg over the cached frame per trigger.
      val tsBounds = latest.agg(
        min(col(Envelope.CommitTsCol)), max(col(Envelope.CommitTsCol))).head()
      val (minTs, maxTs) =
        if (tsBounds.isNullAt(0)) (Long.MaxValue, Long.MinValue)
        else (tsBounds.getLong(0), tsBounds.getLong(1))
      // strict `<`: a transaction's rows may legitimately split across
      // a file boundary, putting equal commit-ts in consecutive batches
      // (same ts = same image, idempotent to reapply)
      val hwm = target.readMarker("cdc_hwm").map(_.toLong).getOrElse(Long.MinValue)
      if (!target.hasVersion(vId) && minTs < hwm) {
        latest.unpersist()
        sys.error(s"CDC events delivered out of order for ${cfg.schemaName}." +
          s"${cfg.tableName}: batch $vId carries commit_ts $minTs under the " +
          s"applied watermark $hwm — applying it would overwrite newer row " +
          "images; fix the file ordering (or re-snapshot) instead of corrupting the target")
      }
      try {
        if (defAt.tableVersion != curDef.tableVersion) {
          // M5: DDL pending — a schema change rewrites every bucket once
          // (unavoidable: the physical schema changes), so take the
          // full-image path for this version.
          val chain = curDef +: reg.ddlBetween(curDef.tableVersion, defAt.tableVersion)
          val current = SchemaEvolution.evolveChain(target.read(), chain)
          val merged = ChangeApply.applyLatest(current, latest, defAt.mergeKeys)
          target.writeVersion(merged, vId)
          // DDL rewrote the table anyway — recompute is the cheap path
          // here (and the group column itself may have changed type)
          cfg.maintainView.foreach { case (g, v) =>
            writeView(graft.merge.ViewMaintain.viewOf(target.read(), g, v))
          }
        } else {
          // Steady state: partition-scoped merge. Only buckets containing
          // touched keys are read (partition-pruned scan) and rewritten;
          // the rest of the table is carried over by link, not rewritten —
          // at 100 TB a 12 s trigger touches O(batch), not O(table).
          val touched = target.touchedBuckets(latest.select(defAt.mergeKeys.map(col): _*))
          if (touched.nonEmpty) {
            val current = target.readBuckets(touched)
            val merged = ChangeApply.applyLatest(current, latest, defAt.mergeKeys)
            // delta inputs read PRE-merge state; localCheckpoint pins
            // them before mergeVersion swaps the files underneath
            val viewNext = cfg.maintainView.map { case (g, v) =>
              val base = readViewOrBootstrap(g, v)
              val keys = latest.select(defAt.mergeKeys.map(col): _*)
              val oldTouched = current.join(keys, defAt.mergeKeys, "left_semi")
              val newTouched = latest.filter(col(Envelope.FlagCol) =!= Envelope.Delete)
                .select(current.columns.map(col): _*)
              graft.merge.ViewMaintain
                .applyDelta(base, oldTouched, newTouched, g, v)
                .localCheckpoint()
            }
            target.mergeVersion(merged, touched, vId)
            viewNext.foreach(writeView)
          }
        }
      } finally {
        latest.unpersist()
        if (defAt.pkColumns.isEmpty) changes.unpersist()
        ()
      }
      // crash point: the version is landed and `_current` repointed,
      // but the schema_version marker, warehouse-SQL audit entry, and
      // metrics have not run — the replayed batch must recompute,
      // no-op on the existing version id, and finish the bookkeeping
      Failpoints.hit("cdc.after-version-land")
      emitWarehouseSql(vId, curDef, defAt, reg, paths)
      target.writeMarker("schema_version", defAt.tableVersion.toString)
      if (maxTs > hwm) target.writeMarker("cdc_hwm", maxTs.toString)
      metrics.set(metrics.Names.TableVersion, cfg.tableName, defAt.tableVersion)
      metrics.add(metrics.Names.IncrementLoadedBytes, cfg.tableName, paths.map(fileSize).sum)
      curDef = defAt
    }
    // pending = discovered CDC bytes not yet merged — the reference
    // recomputes this on every poll tick the same way
    // (`replicate/increment.go:214-217`), walking the same
    // `{schema}/{table}` tree the schema registry walks.
    val totalBytes = walkCdcBytes()
    metrics.set(metrics.Names.IncrementPendingBytes, cfg.tableName,
      math.max(0L, totalBytes - metrics.get(metrics.Names.IncrementLoadedBytes, cfg.tableName)))
  }

  /** Render the warehouse statements the reference would have executed
    * for this version (its `syncExecDDLEvents` → `GenDDLViaColumnsDiff`
    * ALTERs, then `syncExecDMLEvents` → `GenMergeInto`/DELETE+INSERT,
    * `replicate/increment.go:249-329`) into
    * `{targetRoot}/_warehouse_sql/{vId}.sql`. Pure string generation on
    * the driver — the engine applied the batch itself; this is the
    * migration-parity audit trail. */
  private def emitWarehouseSql(
      vId: String,
      prev: TableDefinition,
      curr: TableDefinition,
      reg: SchemaRegistry,
      paths: Seq[String]): Unit = cfg.warehouseSqlDialect.foreach { dialect =>
    import graft.dialects.{SnowflakeDialect, StagingRef}
    val stmts = Seq.newBuilder[String]
    if (curr.tableVersion != prev.tableVersion) {
      val chain = prev +: reg.ddlBetween(prev.tableVersion, curr.tableVersion)
      chain.sliding(2).foreach {
        case Seq(a, b) => stmts ++= dialect.alterSql(a.columns, b)
        case _ =>
      }
    }
    val staging = StagingRef(
      stageName = s"stage_${cfg.tableName}",
      dataset = cfg.schemaName,
      stagingTable = s"increment_${cfg.tableName}")
    dialect match {
      // Snowflake merges straight off the stage, one statement per CDC
      // file (`replicate/increment.go:249-281`); the staging-table
      // dialects load the batch once and merge once.
      case SnowflakeDialect =>
        paths.foreach(p => stmts ++= dialect.mergeSql(curr, staging.copy(filePath =
          p.substring(p.lastIndexOf('/') + 1))))
      case _ => stmts ++= dialect.mergeSql(curr, staging)
    }
    val dir = java.nio.file.Paths.get(cfg.targetRoot, "_warehouse_sql")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve(s"$vId.sql"),
      stmts.result().mkString("\n\n").getBytes("UTF-8"))
  }

  /** Land the quarantined rows for one version id, idempotently: the
    * `version=<vId>` directory name IS both the idempotence marker
    * (same tmp→atomic-move protocol as the data lands, so a replayed
    * batch never double-counts its dead letters) and a REAL partition
    * column — the whole quarantine table stays one partitioned parquet
    * read however many versions accumulate. Empty batches write
    * nothing — absence reads as zero. Returns the rows landed (0 on
    * replay or all-clean). */
  private def landQuarantine(bad: org.apache.spark.sql.DataFrame, vId: String): Long = {
    val dest = java.nio.file.Paths.get(cfg.quarantineDir.get, s"version=$vId")
    if (java.nio.file.Files.exists(dest)) return 0L // replayed version
    // cheap probe on the cached parse — the common all-clean tick pays
    // one limit-1 job, never a write
    if (bad.isEmpty) return 0L
    Publish.landDirOnce(dest) { tmp =>
      bad.write.mode("overwrite").parquet(tmp.toString)
      spark.read.parquet(tmp.toString).count()
    }.getOrElse(0L)
  }

  /** Every quarantined row across all landed versions —
    * (file, reason, raw, version) — as ONE partition-discovered read:
    * no per-version union, no plan growth with the version count, and
    * a version-scoped triage query partition-prunes to its directory. */
  def readQuarantine(): org.apache.spark.sql.DataFrame = {
    val qRoot = cfg.quarantineDir.getOrElse(
      sys.error("pipeline has no quarantineDir configured"))
    require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(qRoot)),
      s"no quarantined versions under $qRoot")
    spark.read.parquet(qRoot)
  }

  private def walkCdcBytes(): Long =
    Publish.walkFiles(java.nio.file.Paths.get(cfg.incrementRoot, cfg.schemaName, cfg.tableName))
      .collect { case (p, size) if p.getFileName.toString.matches("CDC.*\\.csv") => size }
      .sum

  private def fileSize(path: String): Long =
    try {
      val p =
        if (path.startsWith("file:")) java.nio.file.Paths.get(java.net.URI.create(path))
        else java.nio.file.Paths.get(path)
      java.nio.file.Files.size(p)
    } catch { case _: Exception => 0L }

  private def currentDef(reg: SchemaRegistry): TableDefinition =
    target.readMarker("schema_version")
      .map(_.toLong)
      .flatMap(reg.get)
      .getOrElse(cfg.seed)

  // --- incremental view maintenance (cfg.maintainView) -----------------
  private def viewPath = s"${cfg.targetRoot}/_view"

  /** Current view, or its one-time bootstrap from the PRE-merge table
    * (production materializes the view once; every later tick is
    * touched-rows-only). */
  private def readViewOrBootstrap(groupCol: String, valueCol: String): DataFrame =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(viewPath)))
      spark.read.parquet(viewPath)
    else
      graft.merge.ViewMaintain.viewOf(target.read(), groupCol, valueCol)

  /** Overwrite-safe: callers localCheckpoint (or freshly compute) the
    * frame so nothing still reads the files being replaced. The view is
    * one row per group — small next to any merge tick. */
  private def writeView(view: DataFrame): Unit =
    view.localCheckpoint().write.mode("overwrite").parquet(viewPath)
}
