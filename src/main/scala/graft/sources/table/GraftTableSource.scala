package graft.sources.table

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.catalog.VersionedTable

/** A [[graft.catalog.VersionedTable]] as a Structured Streaming SOURCE — the Delta
  * streaming-source shape (`spark.readStream.format("delta")`), rebuilt on the
  * commit log:
  *
  * {{{
  *   spark.readStream.format("graft-table").load(location)                  // appends
  *   spark.readStream.format("graft-table")
  *     .option("readChangeFeed", "true").load(location)                     // CDF rows
  * }}}
  *
  * Offsets ARE commit versions: `getOffset` is one driver-side log listing (O(tail)
  * past a checkpoint, no data files opened), and a micro-batch `(start, end]` is a
  * multi-path parquet scan of exactly the commits in that version range — late
  * micro-batches never rescan the table, which is what makes tailing a 100 TB table
  * cheap: cost tracks the NEW data, not the table size.
  *
  * Batch semantics, per commit in `(start, end]`:
  *  - first batch (no prior offset): the full snapshot AS OF the end version — the
  *    same initial-snapshot contract Delta's source has — then incremental forever;
  *  - `append` — its rows (append mode) or `insert` CDF rows (CDF mode);
  *  - `compact` — skipped: a logical no-op, its rows were all delivered already;
  *  - `overwrite` / non-CDF `merge` — data was REWRITTEN, not appended; the source
  *    fails (same contract as Delta without `ignoreChanges`) unless
  *    `option("ignoreChanges", "true")`, which skips the commit and accepts that
  *    rewritten rows are not re-delivered;
  *  - CDF mode serves merge commits' materialized row-level changes exactly.
  *
  * This is the v1 `Source` SPI — the same one Delta's own streaming source uses —
  * because its `getBatch` returns a DataFrame, letting the batch be the ordinary
  * parquet scan with full pushdown instead of a hand-rolled per-row reader.
  */
class GraftTableSource(
    spark: SparkSession,
    location: String,
    changeFeed: Boolean,
    ignoreChanges: Boolean,
    maxRowsPerTrigger: Option[Long] = None,
    maxCommitsPerTrigger: Option[Int] = None,
    startingVersion: Option[Long] = None)
  extends Source
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
  with Logging {

  /** Delta `startingVersion` parity: a FRESH stream (no checkpointed offset)
    * starts incrementally from this commit instead of serving the initial
    * snapshot — expressed as a synthetic prior offset of `startingVersion - 1`.
    * Checkpointed restarts carry real offsets and never consult this. The same
    * incremental contract applies from there: full rewrites in range fail
    * without `ignoreChanges` (or are served row-level in change-feed mode).
    */
  private val syntheticStart: Option[Long] = startingVersion.map(_ - 1)

  import org.apache.spark.sql.connector.read.streaming.{Offset => ConnectorOffset, ReadLimit}

  override val schema: StructType = GraftTableSource.schemaFor(spark, location, changeFeed)

  private def currentOffset: Option[Offset] =
    VersionedTable.commits(spark, location).lastOption
      .map(c => GraftTableSource.VersionOffset(c.version))

  override def getOffset: Option[Offset] = currentOffset

  /** Trigger.AvailableNow support (the Kafka v1-source pattern): without this,
    * MicroBatchExecution falls back to SINGLE-batch execution, which silently
    * stops short when a restart first has to re-run an uncommitted batch from the
    * WAL — new commits after that batch would wait for the next start. Pinning the
    * end version here lets the drain run as many batches as it needs while still
    * terminating (commits racing in after the pin are the next run's work).
    */
  @volatile private var availableAtStart: Option[Offset] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableAtStart = currentOffset
    logInfo(s"AvailableNow drain of $location up to $availableAtStart")
  }

  override def getDefaultReadLimit: ReadLimit =
    maxRowsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  /** Admission control from the COMMIT LOG alone (`maxRowsPerTrigger` via the
    * per-commit row counts observed at write time, `maxCommitsPerTrigger` by
    * construction): bounding a micro-batch costs zero data reads, so a stream
    * recovering a deep backlog on a 100 TB table paces itself into bounded batches
    * instead of one giant catch-up batch that overwhelms executor memory. The
    * first batch (initial snapshot) is never split — it is one multi-path scan
    * whose size is the table's, not the backlog's. A batch always advances at
    * least one commit, so a single commit larger than the row budget still flows.
    */
  override def latestOffset(start: ConnectorOffset, limit: ReadLimit): ConnectorOffset = {
    import org.apache.spark.sql.connector.read.streaming.{ReadAllAvailable, ReadMaxRows}
    val ceiling = availableAtStart.orElse(currentOffset)
      .map(o => GraftTableSource.version(o.asInstanceOf[Offset]))
    ceiling match {
      case None => null
      case Some(cv) =>
        val startV = Option(start).map {
          case o: Offset => GraftTableSource.version(o)
          case o => o.json.trim.toLong
        }.orElse(syntheticStart)
        startV match {
          case None => GraftTableSource.VersionOffset(cv) // initial snapshot, whole
          case Some(sv) if sv >= cv => GraftTableSource.VersionOffset(sv) // caught up
          case Some(sv) =>
            val pending = VersionedTable.commits(spark, location)
              .filter(c => c.version > sv && c.version <= cv)
            val rowBudget = limit match {
              case r: ReadMaxRows => Some(r.maxRows())
              case _: ReadAllAvailable => None
              case _ => None
            }
            // a batch is the contiguous range (sv, end] — admission walks commits
            // in version order and stops at the FIRST one over budget
            var end = sv
            var rows = 0L
            var admitted = 0
            var stopped = false
            pending.foreach { c =>
              if (!stopped) {
                val commitBudgetOk = maxCommitsPerTrigger.forall(admitted < _)
                val rowBudgetOk = rowBudget.forall(b => rows + c.row_count <= b)
                if (end == sv || (commitBudgetOk && rowBudgetOk)) {
                  end = c.version; rows += c.row_count; admitted += 1
                } else stopped = true
              }
            }
            GraftTableSource.VersionOffset(end)
        }
    }
  }

  override def reportLatestOffset(): ConnectorOffset = currentOffset.orNull

  override def getBatch(start: Option[Offset], end: Offset): DataFrame =
    // the contract requires an isStreaming plan; the batch itself is planned (and
    // pushdown-optimized) as a normal parquet read first, then re-rooted streaming
    org.apache.spark.sql.graft.ColumnBridge.asStreamingBatch(batchPlan(start, end))

  private def batchPlan(start: Option[Offset], end: Offset): DataFrame = {
    val endV = GraftTableSource.version(end)
    start.map(GraftTableSource.version).orElse(syntheticStart) match {
      case None =>
        // initial snapshot: the complete state as of endV, one multi-path scan
        val snap = VersionedTable.readAsOf(spark, location, endV)
        if (!changeFeed) snap
        else {
          val ts = VersionedTable.commits(spark, location)
            .find(_.version == endV).map(_.timestamp).orNull
          snap.withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(endV))
            .withColumn("_commit_timestamp", to_timestamp(lit(ts)))
        }
      case Some(startV) =>
        if (startV >= endV) return emptyBatch
        // the commit the user's startingVersion points AT is the stream's chosen
        // starting content: a full-state commit there (overwrite/restore/merge)
        // serves as inserts instead of failing — without this, startingVersion
        // could never include a table's creating commit. Compacts stay excluded
        // (dataChange=false, exactly Delta's rule). Only a FRESH stream resolves
        // a batch that starts at the synthetic offset.
        def isChosenStart(c: VersionedTable.Commit): Boolean =
          startingVersion.contains(c.version) && c.operation != "compact"
        if (changeFeed) {
          val fromV = startV + 1
          val first = VersionedTable.commits(spark, location)
            .find(_.version == fromV)
          val resetStart = first.exists(c => isChosenStart(c) &&
            c.operation != "append" && c.change_dir.isEmpty)
          if (resetStart) {
            val head = VersionedTable.readChanges(spark, location, fromV, fromV,
              allowFullRewrites = true)
            if (fromV == endV) head
            else head.unionByName(
              VersionedTable.readChanges(spark, location, fromV + 1, endV,
                allowFullRewrites = ignoreChanges),
              allowMissingColumns = true)
          } else
            // readChanges already skips compacts and serves merges row-level;
            // full rewrites only pass when the caller opted into reset semantics
            VersionedTable.readChanges(spark, location, fromV, endV,
              allowFullRewrites = ignoreChanges)
        } else {
          val cs = VersionedTable.commits(spark, location)
            .filter(c => c.version > startV && c.version <= endV)
          cs.filterNot(c => c.operation == "append" || c.operation == "compact" ||
              isChosenStart(c))
            .foreach { c =>
              if (!ignoreChanges) throw new IllegalStateException(
                s"version ${c.version} at $location is a ${c.operation} — data was " +
                  "rewritten or deleted, not appended. Restart the stream from " +
                  "scratch, or set ignoreChanges=true to skip rewrites and deletes " +
                  "(update commits re-deliver their rewritten rows; deleted rows " +
                  "are not retracted), or read the change feed (readChangeFeed=true).")
              else logWarning(s"ignoreChanges: skipping ${c.operation} " +
                s"commit ${c.version} at $location")
            }
          // under ignoreChanges a DV update's rewritten rows are served like
          // Delta's ignoreChanges serves rewritten files; pure deletes add no
          // rows (data_dir empty) and are skipped by the nonEmpty guard
          val appends = cs
            .filter(c => c.operation == "append" || isChosenStart(c) ||
              (ignoreChanges && c.operation == "update"))
            .filter(_.data_dir.nonEmpty)
          if (appends.isEmpty) emptyBatch
          else VersionedTable.readCommitsLogical(spark, location, appends, schema)
        }
    }
  }

  private def emptyBatch: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object GraftTableSource {

  /** Offsets serialize into the checkpoint log as the bare version number, so a
    * restarted query resumes from exactly the commit it last processed.
    */
  case class VersionOffset(v: Long) extends Offset {
    override def json: String = v.toString
  }

  private[table] def version(o: Offset): Long = o match {
    case VersionOffset(v) => v
    case other => other.json.trim.toLong // SerializedOffset replayed from checkpoint
  }

  private[table] def schemaFor(spark: SparkSession, location: String,
      changeFeed: Boolean): StructType = {
    val base = VersionedTable.read(spark, location).schema
    if (!changeFeed) base
    else base.add("_change_type", "string").add("_commit_version", "long")
      .add("_commit_timestamp", "timestamp")
  }
}

/** SPI entry point — one provider for the whole `format("graft-table")` surface,
  * exactly as Delta registers a single source for batch and streaming:
  * `spark.readStream` (streaming tail / change feed), `spark.read` (snapshot,
  * time travel, batch change feed), `df.write` (append/overwrite commits), and SQL
  * `CREATE TABLE ... USING graft-table`. Registered in META-INF/services, so the
  * short name resolves like any built-in source.
  */
class GraftTableSourceProvider extends StreamSourceProvider with DataSourceRegister
  with RelationProvider with CreatableRelationProvider
  with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft-table"

  private def location(params: Map[String, String]): String =
    params.getOrElse("path", throw new IllegalArgumentException(
      "graft-table requires a path: spark.read[Stream].format(\"graft-table\").load(<table location>)"))

  private def changeFeed(params: Map[String, String]): Boolean =
    params.get("readchangefeed").exists(_.toBoolean)

  // ---- batch read: latest snapshot, versionAsOf/timestampAsOf, change feed ----
  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val params = parameters.map { case (k, v) => k.toLowerCase -> v }
    if (changeFeed(params)) GraftTableRelations.changeFeedRelation(ctx, location(params), params)
    else GraftTableRelations.snapshotRelation(ctx, location(params), params)
  }

  // ---- batch write: every SaveMode maps onto a commit ----
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val params = parameters.map { case (k, v) => k.toLowerCase -> v }
    val loc = location(params)
    val partitionBy = params.get("partitionby").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val exists = VersionedTable.exists(ctx.sparkSession, loc)
    mode match {
      case SaveMode.Append =>
        VersionedTable.write(data, loc, if (exists) "append" else "overwrite", partitionBy)
      case SaveMode.Overwrite =>
        // Delta-style dynamic partition overwrite: replace only the partitions
        // present in the batch, carry the rest by reference (a "replace" commit)
        if (params.get("partitionoverwritemode").exists(_.equalsIgnoreCase("dynamic"))
            && exists)
          VersionedTable.overwritePartitions(data, loc)
        else VersionedTable.write(data, loc, "overwrite", partitionBy)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft-table at $loc already exists (SaveMode.ErrorIfExists)")
        VersionedTable.write(data, loc, "overwrite", partitionBy)
      case SaveMode.Ignore =>
        if (!exists) VersionedTable.write(data, loc, "overwrite", partitionBy)
    }
    GraftTableRelations.snapshotRelation(ctx, loc, Map.empty)
  }

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, params: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      GraftTableSource.schemaFor(ctx.sparkSession, location(params), changeFeed(params))))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      params: Map[String, String]): Source =
    new GraftTableSource(ctx.sparkSession, location(params), changeFeed(params),
      ignoreChanges = params.get("ignorechanges").exists(_.toBoolean),
      maxRowsPerTrigger = params.get("maxrowspertrigger").map(_.toLong),
      maxCommitsPerTrigger = params.get("maxcommitspertrigger").map(_.toInt),
      startingVersion = params.get("startingversion").map(_.toLong))

  // ---- streaming sink: writeStream.format("graft-table").start(location) ----
  override def createSink(ctx: SQLContext, params: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val p = params.map { case (k, v) => k.toLowerCase -> v }
    val mergeKeys = p.get("mergekeys").toSeq.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty)
    // merge sinks also accept Update — an update-mode aggregation emits exactly
    // the changed keys per trigger, which upsert-by-key applies correctly
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append() ||
        (mergeKeys.nonEmpty &&
          outputMode == org.apache.spark.sql.streaming.OutputMode.Update()),
      s"graft-table sink accepts Append (and Update with mergeKeys); got $outputMode")
    val partitionBy =
      if (partitionColumns.nonEmpty) partitionColumns
      else p.get("partitionby").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    new GraftTableSink(location(p), partitionBy,
      mergeKeys = mergeKeys,
      deleteColumn = p.get("deletecolumn").map(_.trim).filter(_.nonEmpty),
      sequenceBy = p.get("sequenceby").map(_.trim).filter(_.nonEmpty),
      changeFeed = p.get("changefeed").exists(_.toBoolean),
      // the writer identity replays dedupe on: stable across restarts of the same
      // query because it rides the checkpoint location. When the checkpoint is set
      // via conf instead of an option it is not visible here — the sink then falls
      // back to the streaming QUERY id (persisted in the checkpoint metadata, so
      // also restart-stable), never the table location: two independent queries
      // sharing a location must NOT share a transactional identity, or their
      // overlapping batchIds would dedupe each other's micro-batches away.
      explicitTxnApp = p.get("checkpointlocation"))
  }
}

/** Micro-batches land as exactly-once versioned commits: `(txnApp, batchId)` is the
  * transactional identity [[VersionedTable.idempotentAppend]] dedupes on, so a
  * micro-batch REPLAYED after a crash commits nothing the second time — the same
  * guarantee Delta's streaming sink gets from its transactional writer.
  *
  * STREAMING CDC-APPLY (`option("mergeKeys", "id")`): each micro-batch is
  * applied as a MERGE-ON-READ upsert instead of an append — matched target
  * rows are deletion-vectored out and the batch's rows land as the commit's
  * own files, so per-batch cost tracks the CHANGE volume, never the table.
  * This is the Kafka→lake upsert loop as one `writeStream`, with the Delta
  * `foreachBatch + MERGE` idiom folded into the sink:
  *
  *  - `deleteColumn`: a boolean column marking CDC delete events (the row's
  *    key is removed from the table; unmatched deletes are no-ops);
  *  - `sequenceBy`: a per-key event-order column (CDC offset / LSN / ts). The
  *    sink first compacts the batch to the HIGHEST-sequence event per key —
  *    a batch-sized window, never a table scan. Sequence TIES on a key are
  *    REFUSED (the winner would be nondeterministic); without `sequenceBy`,
  *    batches carrying duplicate keys are refused the same way (the
  *    merge-on-read contract is key-unique changes);
  *  - replay dedupe rides [[VersionedTable.idempotentMergeOnRead]] — the same
  *    `(txnApp, batchId)` identity as append mode, so a crash between the
  *    merge commit and the offset write cannot re-apply the batch;
  *  - the FIRST batch against a not-yet-existing table bootstraps it: the
  *    batch's non-delete rows land as the base commit (deletes against
  *    nothing are no-ops), then every later batch merges.
  */
class GraftTableSink(location: String, partitionBy: Seq[String],
    explicitTxnApp: Option[String], mergeKeys: Seq[String] = Nil,
    deleteColumn: Option[String] = None, sequenceBy: Option[String] = None,
    changeFeed: Boolean = false)
  extends org.apache.spark.sql.execution.streaming.Sink with Logging {

  /** The per-query transactional identity. Preference order: the explicit
    * `checkpointLocation` option (backwards-compatible with existing tables), else
    * the streaming query id — StreamExecution publishes it as a local property on
    * the batch thread, and it is minted once and persisted in the checkpoint's
    * metadata file, so it is stable across restarts and unique per checkpoint.
    * There is deliberately NO fallback to the table location: that identity is
    * shared by every query writing to the table, which turns batchId-based replay
    * dedupe into silent cross-query data loss.
    */
  private def resolveTxnApp(data: DataFrame): String =
    explicitTxnApp.orElse {
      import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
      Option(data.sparkSession.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY))
    }.getOrElse(throw new IllegalStateException(
      s"graft-table sink at $location cannot derive a transactional identity: no " +
        "checkpointLocation option and no streaming query id on this thread. Pass " +
        ".option(\"checkpointLocation\", ...) on the writeStream."))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (mergeKeys.nonEmpty) return mergeBatch(batchId, data)
    val batch = org.apache.spark.sql.graft.ColumnBridge.asWritableBatch(data)
    // migration guard: conf-checkpointed sinks once fell back to the TABLE
    // LOCATION as their identity. A batch committed under that legacy identity
    // before an upgrade, replayed after it (crash between sink commit and
    // offset commit), would not match the query-id identity and double-append —
    // so the legacy tag is honored as already-committed, read-only.
    val legacyReplay = explicitTxnApp.isEmpty &&
      VersionedTable.commits(data.sparkSession, location)
        .exists(c => c.txn_app == location && c.txn_id == batchId)
    if (legacyReplay) {
      logInfo(s"batch $batchId already committed at $location under the legacy " +
        "location identity — replay deduped")
      return
    }
    VersionedTable.idempotentAppend(batch, location, resolveTxnApp(data), batchId,
        partitionBy) match {
      case Some(v) => logInfo(s"batch $batchId committed as version $v at $location")
      case None => logInfo(s"batch $batchId already committed at $location — replay deduped")
    }
  }

  /** The CDC-apply path: compact to the last event per key (`sequenceBy`),
    * refuse nondeterministic batches loudly, bootstrap a fresh table from the
    * first batch, and merge-on-read every batch after — exactly once.
    */
  private def mergeBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val batch = org.apache.spark.sql.graft.ColumnBridge.asWritableBatch(data)
    val txnApp = resolveTxnApp(data)
    val keyCols = mergeKeys.map(col)
    val compacted = sequenceBy match {
      case Some(seq) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols: _*).orderBy(col(seq).desc)
        // rank vs row_number on ONE window: a tie at the top has two rows with
        // rank 1, so some row has (row_number 2, rank 1) — one batch-sized
        // pass detects it, and row_number 1 is the winner when there is none
        val ranked = batch.withColumn("_g_rn", row_number().over(w))
          .withColumn("_g_rk", rank().over(w))
        require(ranked.filter(col("_g_rn") === 2 && col("_g_rk") === 1)
            .isEmpty,
          s"batch $batchId carries sequence ties on '$seq' for at least one " +
            s"key — the surviving event would be nondeterministic. Fix the " +
            "sequence column (CDC offset / LSN) to be unique per key.")
        ranked.filter(col("_g_rn") === 1).drop("_g_rn", "_g_rk")
      case None =>
        require(batch.groupBy(keyCols: _*).count().filter(col("count") > 1)
            .isEmpty,
          s"batch $batchId carries duplicate keys on " +
            s"(${mergeKeys.mkString(", ")}) and no sequenceBy option orders " +
            "them — merge-on-read requires key-unique changes. Pass " +
            ".option(\"sequenceBy\", <event-order column>) to keep the last " +
            "event per key.")
        batch
    }
    if (!VersionedTable.exists(spark, location)) {
      // bootstrap: the first batch IS the base state; deletes match nothing.
      // deleteColumn/sequenceBy are CDC METADATA, not payload — they are
      // dropped here so the table's schema is the payload alone (the merge
      // path drops them implicitly by selecting the table's columns)
      val base = sequenceBy.foldLeft(
        deleteColumn.fold(compacted)(d =>
          compacted.filter(!coalesce(col(d).cast("boolean"), lit(false)))
            .drop(d)))((df, s) => df.drop(s))
      VersionedTable.idempotentAppend(base, location, txnApp, batchId,
          partitionBy) match {
        case Some(v) => logInfo(s"batch $batchId bootstrapped $location as version $v")
        case None => logInfo(s"batch $batchId already committed at $location — replay deduped")
      }
      return
    }
    VersionedTable.idempotentMergeOnRead(spark, location, compacted, mergeKeys,
        deleteColumn, txnApp, batchId, changeFeed = changeFeed) match {
      case Some(v) => logInfo(s"batch $batchId merged as version $v at $location")
      case None => logInfo(s"batch $batchId already merged at $location — replay deduped")
    }
  }
}
