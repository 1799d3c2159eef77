package graft.catalog

import java.nio.charset.StandardCharsets
import java.time.Instant

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A minimal versioned parquet table: commit log + time travel — the full K7 shape the
  * reference gets from Delta (`DeltaTable.forPath(...).history()` and version reads,
  * `mage-programs/delta_metadata.py:114-116`), rebuilt on plain parquet + a JSON commit
  * log, since delta-spark is unavailable offline.
  *
  * Layout under `location/`:
  *  - `_data/d-<uuid>/` — the parquet files one commit added. Dir names are
  *    writer-unique (Delta-style unique file naming), so concurrent writers NEVER
  *    touch each other's data files; the commit log maps versions to data dirs.
  *  - `_data/<dir>/_files.json.deflate` — the dir's file manifest: each file
  *    the write committed, with its length ([[StagedWrite]]).
  *  - `_data/c-<uuid>/` — a merge commit's materialized Change-Data-Feed rows
  *    (when written with `changeFeed = true`); resolved by [[readChanges]].
  *  - `_commit_log/<N>.json` — one file per commit: version, operation, timestamp,
  *    rows, data_dir, partition_by, per-column min/max stats, and the transactional
  *    identity (txn_app, txn_id) for streaming exactly-once ([[idempotentAppend]]).
  *  - `_commit_log/_checkpoint.<N>.jsonl` — consolidated log through version N
  *    (written automatically every [[CheckpointInterval]] commits, Delta-style);
  *    readers open the newest checkpoint + only newer commit files.
  *
  * Every metadata file here — commit bodies, checkpoint lines, the `_ddl`
  * archive, the keyed sidecars and `_vacuum_floor.json` — is JSON written and
  * read by one codec, [[MetadataJson]]. Every string is escaped, control
  * characters included, so a commit body is one line whatever its strings
  * hold. Non-finite stats (a `max()` over a column holding NaN) are the bare
  * tokens `NaN`, `Infinity` and `-Infinity`.
  *
  * Semantics:
  *  - `overwrite` starts a new table state; `append` adds to the previous state;
  *    `compact` ([[compact]]) is an overwrite whose content is the rewritten live
  *    set — OPTIMIZE parity, optionally Z-order-clustered.
  *  - The state AS OF version V = the data dirs of every commit in
  *    (last overwrite ≤ V) .. V — resolved from the log, metadata-only.
  *  - Commit N+1 claims its log file with create-exclusive, so two racing writers
  *    cannot both publish the same version on filesystems with atomic create
  *    (HDFS/local; object stores without atomic create need an external lock, as
  *    Delta itself does on S3). The log claim is the ONLY race point: data lands in
  *    a writer-unique dir BEFORE the claim, and the loser's dir is simply never
  *    referenced — it retries the claim at the next version without rewriting data.
  *  - A data dir with no matching log entry is an uncommitted write (crash between
  *    data and log) and is invisible to every reader — readers resolve the LOG, not
  *    the directory listing. [[vacuum]] reclaims such orphans.
  *
  * Write path: every `_data/<dir>` write goes through [[StagedWrite.parquet]].
  * Its tasks write straight into the staged dir ([[StagedCommitProtocol]]): the
  * dir is invisible until the claim, so there is no `_temporary` dir, no
  * task- or job-commit rename, no `_SUCCESS` marker and no `.crc` sidecar. The
  * job commit writes the dir's file manifest, built from the task commit
  * messages, before the claim. Readers take a dir's files from its manifest,
  * never from a listing, so a file a failed or speculative task attempt left
  * in the dir is never served. Dirs written before the manifest existed, or by
  * a user-set commit protocol, carry none and are listed instead.
  *
  * Read path: the log, not a directory listing, decides what a snapshot reads.
  * The log is one tiny JSON file per commit, listed driver-side (pure metadata).
  * A read of K live commits is ONE parquet scan over a [[LogFileIndex]] whose
  * roots are those commits' data dirs, partitioned or not: the read schema comes
  * from the log, each write-once data dir's files come from its write or its
  * manifest ([[DataDirCache]]) and only when Spark plans the scan, and partitions a later
  * scoped merge shadowed are left out of the index's partition spec. Data files
  * stream through the ordinary parquet reader with full pushdown and pruning.
  */
object VersionedTable {

  /** `stats` is per-column (min, max) over the commit's NUMERIC top-level columns
    * (Delta-style data skipping metadata, collected free at write time by the same
    * `observe` that counts rows). Doubles hold every int up to 2^53 exactly; columns
    * wider than that, or non-numeric, simply record no stats and are never pruned on.
    *
    * `replace_where` marks a PARTITION-SCOPED commit (a merge that rewrote only
    * the partitions its change set touched): a ';'-joined list of hive partition
    * paths (`k=v` or `k1=v1/k2=v2`). Readers serve the state by shadowing those
    * partitions out of every EARLIER live commit; empty means full-state
    * semantics (today's overwrite/compact/merge contract). `replaced_rows` is
    * the pre-merge row count of the touched partitions, observed during the
    * rewrite, so [[fastCount]] stays metadata-only.
    *
    * `dv_dir` marks a MERGE-ON-READ commit ([[deleteWhere]] / [[updateWhere]]):
    * a `_data/v-<uuid>/` parquet of (file, pos) DELETION-VECTOR entries —
    * fully-qualified data-file path + row index within the file — that readers
    * subtract from the scan with an anti-join instead of any file being
    * rewritten. For these commits `replaced_rows` is the number of DV'd rows
    * (so [[fastCount]] stays metadata-only under the same subtraction rule as
    * scoped merges) and `row_count` counts only rows the commit ADDED (0 for a
    * pure delete; the updated rows for an update).
    */
  final case class Commit(
      version: Long, operation: String, timestamp: String, row_count: Long,
      data_dir: String, partition_by: String = "",
      txn_app: String = "", txn_id: Long = -1L,
      stats: Map[String, (Double, Double)] = Map.empty,
      change_dir: String = "", replace_where: String = "",
      replaced_rows: Long = 0L, dv_dir: String = "",
      // string-column min/max (ASCII-safe values only — see stageData); absent
      // in pre-existing logs, which parse to empty = prune nothing
      sstats: Map[String, (String, String)] = Map.empty,
      // per-column NULL counts over this commit's own rows (Delta nullCount
      // parity): 0 is recorded explicitly (it licenses IS NULL pruning);
      // absent in pre-existing logs = unknown = prune nothing
      nulls: Map[String, Long] = Map.empty,
      // the staged batch's full Spark schema as StructType JSON (physical
      // names, INCLUDING hive partition columns) — Delta's schema-in-log
      // parity. Readers assemble the snapshot schema from the log and skip
      // the distributed parquet footer-merge job entirely ([[logReadSchema]]);
      // absent in pre-existing logs = fall back to mergeSchema inference
      schema_json: String = "") {
    /** Parsed `replace_where`: one `Seq[(partitionCol, value)]` per touched partition. */
    def replacedPartitions: Seq[Seq[(String, String)]] =
      if (replace_where.isEmpty) Seq.empty
      else replace_where.split(";").toSeq.map(_.split("/").toSeq.map { kv =>
        val i = kv.indexOf('=')
          (kv.substring(0, i), kv.substring(i + 1))
      })

    /** Whether this commit RESETS the table state (overwrite / compact / restore /
      * full-rewrite merge). Appends, partition-scoped merges, and merge-on-read
      * delete/update commits all layer ON TOP of earlier commits instead.
      */
    def isFullState: Boolean =
      operation != "append" && operation != "delete" && operation != "update" &&
        replace_where.isEmpty
  }

  /** Claim retries are cheap (one exclusive-create each), but a persistent failure —
    * e.g. a permissions problem that is NOT already-exists — must not spin forever.
    * Non-already-exists IOExceptions are rethrown from the claim itself; this bound
    * only caps genuine lost races, so hitting it means pathological contention.
    */
  private val MaxClaimAttempts = 64

  /** Write `df` as the next commit; returns the committed version.
    * `operation` is "overwrite" or "append". `partitionBy` lays each commit's data
    * out Hive-partitioned (readers get partition pruning across every visible
    * commit — each data dir is its own partitioned root, and one log-resolved
    * file index spans them all).
    */
  def write(df: DataFrame, location: String, operation: String = "overwrite",
      partitionBy: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    identitySpec(spark, location) match {
      case Some(id) =>
        // identity allocation is a high-water-mark read-modify-write: the
        // whole assign→stage→claim sequence serializes on the DDL lock so two
        // concurrent appends cannot allocate the same range (the optimistic
        // claim alone orders commits but does not re-run the allocation)
        withDdlLock(spark, location) {
          writeBody(assignIdentity(df, location, id,
            nextIdentityValue(spark, location, id)), location, operation,
            partitionBy)
        }
      case None => writeBody(df, location, operation, partitionBy)
    }
  }

  /** `freshDefinition` stages the batch as if the table had NO constraints or
    * generated columns — the replaceDefinition path, whose batch belongs to
    * the replacement definition while the old sidecars are still on disk
    * (they are cleared only after the commit claim, for crash safety).
    */
  private def writeBody(df: DataFrame, location: String, operation: String,
      partitionBy: Seq[String], freshDefinition: Boolean = false): Long = {
    require(operation == "overwrite" || operation == "append",
      s"unknown operation: $operation")
    val spark = df.sparkSession
    val fs = fileSystem(spark, location)
    if (operation == "append") enforceAppendSchema(spark, location, df, partitionBy)
    val (dataDir, rows, stats, sstats, nulls, schemaJson) =
      stageData(df, location, partitionBy,
        if (freshDefinition) Map.empty else constraints(spark, location),
        freshDefinition = freshDefinition)
    var committed = -1L
    var attempt = 0
    while (committed < 0) {
      val v = commits(spark, location).lastOption.map(_.version + 1).getOrElse(0L)
      if (claimCommit(fs, location, v, operation, rows, dataDir, partitionBy,
          stats, sstats = sstats, nulls = nulls, schemaJson = schemaJson))
        committed = v
      else {
        attempt += 1
        if (attempt >= MaxClaimAttempts) {
          fs.delete(new Path(s"$location/_data/$dataDir"), true)
          throw new IllegalStateException(
            s"lost $MaxClaimAttempts consecutive commit races at $location — giving up")
        }
        // linear backoff: the blocking claim may be an in-flight writer between
        // create and close, whose version is intentionally not yet visible
        Thread.sleep(math.min(500L, 10L * attempt))
      }
    }
    maybeCheckpoint(spark, location, committed)
    committed
  }

  /** SQL `CREATE OR REPLACE` / `REPLACE TABLE` target: reset the table
    * DEFINITION in place — ONE overwrite commit carrying the new content plus
    * a sidecar reset (spec replaced; column mapping, CHECK constraints, and
    * generated columns cleared), all under the DDL lock with one schema
    * archive. Unlike Spark's non-staging drop+create fallback, the COMMIT LOG
    * SURVIVES: history, RESTORE, and schema time travel keep working across
    * the replace — `readAsOf` at a pre-replace version reads the old data
    * under the old archived sidecars. On a table that does not exist yet this
    * is a plain single-commit create (the staged-CTAS path).
    *
    * Atomicity note: the data swap itself is the one atomic overwrite claim.
    * A concurrent reader can observe a window of one metadata write where the
    * new commit still resolves under the pre-replace ARCHIVED sidecars (the
    * raw sidecar resets are invisible to readers until the closing archive
    * lands) — strictly narrower than the default path's drop window, where
    * the table does not exist at all.
    *
    * CRASH RECOVERY: constraints and generated-column expressions are
    * writer-enforced sidecars, not archive-resolved, and are cleared only
    * AFTER the overwrite claim (clearing first would leave a crash's
    * still-live OLD data unguarded). The residual window is therefore a crash
    * BETWEEN the claim and the clears: the new definition is live but
    * subsequent appends would be validated against — and compute generated
    * values from — the REPLACED definition's sidecars. Recovery is to re-run
    * this replaceDefinition (idempotent: it resets all sidecars and swaps
    * again) before resuming writes; the DDL lock's stale-break makes the
    * crashed holder's lock reclaimable after [[StaleDdlLockMs]].
    */
  def replaceDefinition(spark: SparkSession, location: String, data: DataFrame,
      partitionBy: Seq[String] = Nil,
      spec: Map[String, String] = Map.empty): Long = {
    if (!exists(spark, location)) {
      // fresh create: one data commit + create-time spec (no history to keep)
      val v = write(data, location, "overwrite", partitionBy)
      if (spec.nonEmpty) writeTableSpec(spark, location, spec)
      return v
    }
    var committed = -1L
    withDdlArchive(spark, location) {
      // spec/mapping resets FIRST (raw — invisible to readers, who resolve
      // them from archives): the staged write below must land the new data
      // under ITS OWN column names with no physical-name translation
      writeKeyedJson(spark, location, ColumnsFile, Map.empty)
      writeTableSpecRaw(spark, location, spec)
      // the atomic swap: one overwrite commit resets the live set; the
      // closing archive (withDdlArchive) binds the new sidecars to this head.
      // writeBody, not write: the DDL lock is already held here, and a
      // replacement definition carries no identity state to allocate.
      // freshDefinition: the batch is staged under the REPLACEMENT definition
      // (no inherited constraints or generated columns), so those sidecars
      // need not be cleared before the commit — see below.
      committed = writeBody(data, location, "overwrite", partitionBy,
        freshDefinition = true)
      // constraints/generated are NOT archive-resolved — clearing them takes
      // effect immediately. Clear only AFTER the overwrite claim succeeds: a
      // crash mid-replace then leaves the pre-replace data still fully
      // guarded by its CHECK constraints and generated-column enforcement,
      // instead of live-but-stripped (and a concurrent plain writer in the
      // window keeps being validated against the old definition too)
      writeKeyedJson(spark, location, "_constraints.json", Map.empty)
      writeKeyedJson(spark, location, GeneratedFile, Map.empty)
    }
    committed
  }

  /** CHECK-constraint surface (Delta `ALTER TABLE ... ADD CONSTRAINT` parity):
    * named SQL predicates stored beside the log in `_constraints.json` and
    * enforced on every batch of rows that LANDS — [[write]],
    * [[idempotentAppend]], [[idempotentOverwrite]], the staged result of
    * [[merge]], and [[restore]] (a restore may resurrect data that predates a
    * constraint); [[compact]] rewrites the already-validated live set and skips
    * the check. SQL CHECK semantics: a row passes when the predicate is TRUE or
    * NULL; only FALSE violates. Enforcement is FUSED into the staged write
    * ([[withCheckGuard]]): the batch lineage executes exactly once, with a
    * `raise_error` guard aborting on the first violating row.
    */
  def addConstraint(spark: SparkSession, location: String, name: String,
      checkSql: String): Unit = {
    require(name.nonEmpty && !name.contains("\""), s"bad constraint name: $name")
    // validate the expression parses before persisting it
    org.apache.spark.sql.functions.expr(checkSql)
    // Delta's ADD CONSTRAINT contract: EXISTING rows must already satisfy the
    // predicate, or the table would advertise a check its live data violates
    // (and restore/compact would re-stage that data unchecked)
    if (exists(spark, location))
      checkAgainst(location, read(spark, location), Map(name -> checkSql))
    writeConstraints(spark, location, constraints(spark, location) + (name -> checkSql))
  }

  def dropConstraint(spark: SparkSession, location: String, name: String): Unit =
    writeConstraints(spark, location, constraints(spark, location) - name)

  /** The table's named CHECK constraints (empty when none were ever added). */
  def constraints(spark: SparkSession, location: String): Map[String, String] =
    readKeyedJson(spark, location, "_constraints.json")

  /** Declared table spec — the DSv2 catalog's sidecar ([[graft.sources.table.GraftCatalog]]):
    * currently just the CREATE TABLE partition columns (`"partition_by" -> "a,b"`), so an
    * empty CREATE (whose version-0 commit is written flat — zero rows lay out no
    * partition directories) still advertises and applies its declared partitioning on
    * every later INSERT. Same atomic temp+rename publish discipline as the constraint
    * file; absent for tables created through the Scala API (callers fall back to the
    * latest commit's `partition_by`).
    */
  def tableSpec(spark: SparkSession, location: String): Map[String, String] =
    readKeyedJson(spark, location, "_table_spec.json")

  /** The table's declared hive partitioning — THE resolver every surface
    * shares (DSv2 catalog loads, SQL MERGE inserts): the create-time spec when
    * present (authoritative for SQL-created tables, whose empty v0 lays out no
    * directories), else the newest LIVE commit that records one. Live-set
    * bounded on both sides: pure-DV delete/update commits record no layout and
    * must not mask the real one, while a full unpartitioned rewrite resets the
    * live set, so an abandoned older layout can never resurrect.
    */
  def declaredPartitioning(spark: SparkSession, location: String): Seq[String] =
    tableSpec(spark, location).get("partition_by")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse {
        val cs = commits(spark, location)
        if (cs.isEmpty) Nil
        else liveCommitsFrom(cs, location, cs.last.version).reverse
          .collectFirst { case c if c.partition_by.nonEmpty =>
            c.partition_by.split(",").toSeq.filter(_.nonEmpty) }
          .getOrElse(Nil)
      }

  def writeTableSpec(spark: SparkSession, location: String,
      spec: Map[String, String]): Unit =
    withDdlArchive(spark, location) {
      writeTableSpecRaw(spark, location, spec)
    }

  /** Read-modify-write of the spec UNDER the DDL lock — the form every
    * concurrent-safe spec edit must take (a caller-side `writeTableSpec(
    * tableSpec(...) + kv)` reads outside the lock and can lose a racing
    * writer's edit whole).
    */
  def updateTableSpec(spark: SparkSession, location: String)
      (f: Map[String, String] => Map[String, String]): Unit =
    withDdlArchive(spark, location) {
      writeTableSpecRaw(spark, location, f(tableSpec(spark, location)))
    }

  private def writeTableSpecRaw(spark: SparkSession, location: String,
      spec: Map[String, String]): Unit =
    writeKeyedJson(spark, location, "_table_spec.json", spec)

  // --- DDL history (schema time travel) --------------------------------------------

  /** Schema DDL is VERSIONED for time travel: every write of the spec or
    * column-mapping sidecar archives the resulting state under `_ddl/`, tagged
    * with the head table version at DDL time. [[sidecarsAsOf]] reconstructs
    * the sidecars in force at any version, so `readAsOf` shows historical rows
    * under the schema of THAT day, not today's (Delta parity, approximated:
    * our DDL writes no commit, so a DDL binds to the head version it was made
    * AT — it is visible from that version onward, where Delta would bind it to
    * the next commit). The first archive is preceded by a BASELINE capturing
    * the pre-archive state at version -1, so tables whose DDL history predates
    * this mechanism keep their old any-version behavior for that prefix.
    */
  private val DdlDir = "_ddl"

  private def ddlBaseline(spark: SparkSession, location: String): Unit = {
    val fs = fileSystem(spark, location)
    val dir = new Path(s"$location/$DdlDir")
    if (!fs.exists(dir)) {
      fs.mkdirs(dir)
      writeDdlArchive(spark, location, -1L, tableSpec(spark, location),
        columnMapping(spark, location))
    }
  }

  private def writeDdlArchive(spark: SparkSession, location: String,
      atVersion: Long, spec: Map[String, String],
      mapping: Map[String, String]): Unit = {
    val fs = fileSystem(spark, location)
    val dir = new Path(s"$location/$DdlDir")
    // ONE flat object of string fields: "v" = at_version, "s.<k>" = spec,
    // "m.<k>" = mapping
    val body = MetadataJson.encodeStrings(Map("v" -> atVersion.toString) ++
      spec.map { case (k, v) => s"s.$k" -> v } ++
      mapping.map { case (k, v) => s"m.$k" -> v })
    // exclusive-create with a bumping sequence: concurrent DDLs each land
    var seq = fs.listStatus(dir).count(_.getPath.getName.endsWith(".json"))
    while (!atomicCreate(fs, new Path(dir, f"$seq%06d.json"),
        body.getBytes(StandardCharsets.UTF_8))) seq += 1
  }

  /** Publish the current sidecar state as a new archive. Readers resolve from
    * the NEWEST archive ([[sidecarsAsOf]]), so a compound DDL that must touch
    * BOTH sidecars (materialized-added-column rename/drop) writes its raw
    * files first and archives ONCE here — readers jump atomically from the
    * pre-DDL archive to the post-DDL one and never see the half-written
    * middle (e.g. a renamed mapping with the spec still holding the old name,
    * which would resurrect a phantom NULL column).
    */
  private def archiveDdlNow(spark: SparkSession, location: String): Unit = {
    val head = commits(spark, location).lastOption.map(_.version).getOrElse(-1L)
    writeDdlArchive(spark, location, head, tableSpec(spark, location),
      columnMapping(spark, location))
  }

  /** Serialize DDL WRITERS: compound DDL lands two sidecar files plus an
    * archive; two interleaved writers would last-writer-win each other's spec
    * or mapping edit (dropping one DDL whole) and could archive the other
    * writer's half-state. The lock is an exclusive-create file carrying its
    * creation stamp; a crashed writer's lock is broken after
    * [[StaleDdlLockMs]] (best-effort stale-breaking — the delete+recreate
    * window is the classic filesystem-lock caveat, acceptable because DDL is
    * rare, human-triggered, and the archives readers resolve from stay
    * append-only either way). READERS never take the lock: they resolve from
    * immutable archives ([[sidecarsAsOf]]).
    */
  private val StaleDdlLockMs = 5 * 60 * 1000L
  private val DdlLockWaitMs = 30 * 1000L

  private def withDdlLock[T](spark: SparkSession, location: String)
      (body: => T): T = withFileLock(spark, location, "_ddl_lock")(body)

  /** The exclusive-create file-lock protocol behind the DDL lock, generalized
    * to a caller-named lock file so other single-writer scopes (e.g. COPY
    * INTO's ingest ledger, [[CopyInto]]) serialize independently of DDL.
    * NON-REENTRANT: a holder that re-acquires the SAME lock deadlocks until
    * the timeout — nest distinct locks only, and keep the order consistent
    * (today: ingest → ddl, never the reverse).
    *
    * LIVENESS vs long critical sections: some guarded sections are data-sized,
    * not metadata-sized — an identity-table write holds the DDL lock across a
    * distributed stage+claim, COPY INTO holds the ingest lock across a whole
    * ingest — and can legitimately outlast any fixed stale threshold. The
    * holder therefore HEARTBEATS the lock (a daemon thread re-stamps it every
    * [[LockHeartbeatMs]]), so waiters age the lock from the LAST heartbeat: a
    * live holder is never broken no matter how long its section runs, while a
    * crashed holder stops stamping and self-breaks after [[StaleDdlLockMs]]
    * as before. The residual break-then-race window is a holder PAUSED (not
    * crashed) for longer than the stale threshold — the classic fs-lock
    * caveat, now requiring a 5-minute full stop rather than merely a slow
    * section.
    */
  private val LockHeartbeatMs = 60 * 1000L

  private[catalog] def withFileLock[T](spark: SparkSession, location: String,
      lockName: String, heartbeatMs: Long = LockHeartbeatMs,
      staleMs: Long = StaleDdlLockMs, waitMs: Long = DdlLockWaitMs)
      (body: => T): T = {
    val fs = fileSystem(spark, location)
    val lock = new Path(s"$location/$lockName")
    fs.mkdirs(lock.getParent) // pre-first-commit DDL (e.g. identity declare)
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      if (atomicCreate(fs, lock,
          System.currentTimeMillis().toString.getBytes(StandardCharsets.UTF_8)))
        acquired = true
      else {
        val age = try System.currentTimeMillis() - readUtf8(fs, lock).trim.toLong
        catch { case _: Exception => 0L } // vanished or torn mid-read: re-loop
        if (age > staleMs) fs.delete(lock, false)
        else if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"timed out waiting ${waitMs / 1000}s for $lockName at " +
              s"$location — a concurrent holder is running (or crashed within " +
              s"the last ${staleMs / 1000}s; the lock self-breaks after that)")
        else Thread.sleep(50)
      }
    }
    // keep the stamp fresh for the whole critical section; a FAILED re-stamp
    // is swallowed PER BEAT (a missed beat just ages the lock toward the
    // stale threshold) — the catch sits inside the loop so one transient
    // fs hiccup skips a beat instead of silently ending heartbeating for a
    // long section that still depends on it
    val beat = new Thread(() => {
      var interrupted = false
      while (!interrupted && !Thread.currentThread().isInterrupted) {
        try {
          Thread.sleep(heartbeatMs)
          val out = fs.create(lock, true)
          try out.write(
            System.currentTimeMillis().toString.getBytes(StandardCharsets.UTF_8))
          finally out.close()
        } catch {
          case _: InterruptedException => interrupted = true
          case _: Exception => () // skip this beat; next iteration retries
        }
      }
    }, s"graft-lock-heartbeat-$lockName")
    beat.setDaemon(true)
    beat.start()
    try body finally {
      beat.interrupt()
      // join BEFORE deleting: an in-flight re-stamp racing the delete would
      // resurrect the lock file and block every waiter until the stale break
      try beat.join(5000) catch { case _: InterruptedException => () }
      fs.delete(lock, false)
    }
  }

  /** Every DDL mutation rides this: the DDL lock around (baseline, sidecar
    * writes, one archive). Compound DDL that must touch both sidecars writes
    * its raw files inside `write` and archives ONCE here — readers jump
    * atomically from the pre-DDL archive to the post-DDL one and never see
    * the half-written middle (e.g. a renamed mapping with the spec still
    * holding the old name, which would resurrect a phantom NULL column).
    */
  private def withDdlArchive(spark: SparkSession, location: String)
      (write: => Unit): Unit = withDdlLock(spark, location) {
    ddlBaseline(spark, location)
    write
    archiveDdlNow(spark, location)
  }

  /** Parsed-archive cache: archive files are WRITE-ONCE (exclusive-create with
    * a bumping sequence — a name is never rewritten), so their parsed content
    * caches JVM-wide forever. mtime+length ride the key to survive a table
    * dropped and recreated at the same location (fresh `000000.json`, new
    * content); same-JVM create/drop additionally purge this cache in
    * [[invalidateLogCaches]] — second-granularity mtimes plus an equal-length
    * DDL archive (CHECK (x > 5) recreated as CHECK (x > 9)) would otherwise
    * collide on the (path, mtime, length) key exactly like the commit and
    * checkpoint caches. With the cache, ANY read — head or time travel — of a table
    * that ever saw DDL costs one exists + one listStatus — metadata-only, no
    * GET — instead of a newest-archive read per scan assembly. A head-read
    * short-circuit to the two current sidecar FILES was considered and
    * REJECTED: they update as two separate writes, so bypassing the
    * write-once archive reintroduces the torn-compound-DDL read the archive
    * exists to close (DdlRaceSpec fails on it).
    */
  private val archiveCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), (Option[Long], Map[String, String], Map[String, String])]()

  private def parsedArchive(fs: FileSystem,
      st: org.apache.hadoop.fs.FileStatus)
      : (Option[Long], Map[String, String], Map[String, String]) =
    archiveCache.computeIfAbsent(
      (st.getPath.toString, st.getModificationTime, st.getLen), _ => {
        val entries = MetadataJson.decodeStrings(readUtf8(fs, st.getPath))
        (entries.get("v").flatMap(v => scala.util.Try(v.toLong).toOption),
          entries.collect { case (k, v) if k.startsWith("s.") =>
            k.stripPrefix("s.") -> v },
          entries.collect { case (k, v) if k.startsWith("m.") =>
            k.stripPrefix("m.") -> v })
      })

  /** The (spec, mapping) in force at `version`: among archives tagged
    * `at_version <= version`, the one with the greatest (at_version,
    * sequence). ALL archives are consulted — a DDL racing a commit can land a
    * LOWER at_version under a HIGHER sequence (it read the head before the
    * commit claimed), so a newest-first early stop could bind the read to a
    * neighbor archive; scanning all of them makes the winner order-free. The
    * scan is cheap: archive files are immutable and parse once per JVM
    * ([[parsedArchive]]). No `_ddl` dir — a table that never saw a DDL, or
    * only pre-mechanism ones — falls back to the current sidecars, the legacy
    * behavior.
    */
  private def sidecarsAsOf(spark: SparkSession, location: String,
      version: Long): (Map[String, String], Map[String, String]) = {
    val fs = fileSystem(spark, location)
    val dir = new Path(s"$location/$DdlDir")
    // one listStatus, FNF = never-DDL'd table (saves the separate exists RPC)
    val archives =
      try fs.listStatus(dir)
      catch {
        case _: java.io.FileNotFoundException =>
          return (tableSpec(spark, location), columnMapping(spark, location))
      }
    val eligible = archives
      .filter(_.getPath.getName.endsWith(".json"))
      .sortBy(_.getPath.getName)
      .flatMap { st =>
        val (at, spec, mapping) = parsedArchive(fs, st)
        at.filter(_ <= version).map(v => (v, st.getPath.getName, spec, mapping))
      }
    if (eligible.isEmpty)
      (tableSpec(spark, location), columnMapping(spark, location))
    else {
      val (_, _, spec, mapping) = eligible.maxBy { case (v, name, _, _) => (v, name) }
      (spec, mapping)
    }
  }

  private def readKeyedJson(spark: SparkSession, location: String,
      file: String): Map[String, String] = {
    val p = new Path(s"$location/$file")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // open-and-catch, not exists-then-open: one RPC instead of two, and no
    // vanish window between the probe and the read (sidecars are
    // delete+rename-republished, so the window is real under concurrent DDL)
    try MetadataJson.decodeStrings(readUtf8(fs, p))
    catch { case _: java.io.FileNotFoundException => Map.empty }
  }

  /** Publish the constraint set via write-temp-then-rename, so a reader never
    * sees a torn file and a crashed writer leaves the old set intact. Known
    * deliberate gaps vs Delta (which versions constraints in table metadata):
    * concurrent addConstraint/dropConstraint calls are last-rename-wins — the
    * loser's edit is dropped whole, never interleaved — and the file is
    * UNVERSIONED, so time travel and restore see the CURRENT constraint set,
    * not the one in force at the target version (restore enforces the current
    * set against the restored data for exactly this reason).
    */
  private def writeConstraints(spark: SparkSession, location: String,
      all: Map[String, String]): Unit =
    writeKeyedJson(spark, location, "_constraints.json", all)

  private[catalog] def writeKeyedJson(spark: SparkSession, location: String,
      file: String, all: Map[String, String]): Unit = {
    val p = new Path(s"$location/$file")
    val tmp = new Path(s"$location/$file.tmp-${java.util.UUID.randomUUID()}")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(tmp, true)
    try out.write(MetadataJson.encodeStrings(all).getBytes("UTF-8"))
    finally out.close()
    // Hadoop rename won't clobber an existing destination on all FS; delete-then-
    // rename leaves at worst a missing-file window, never a torn body
    fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"failed to publish $file at $p")
    }
  }

  /** GENERATED COLUMNS (Delta `GENERATED ALWAYS AS` parity): named SQL
    * expressions stored in `_generated.json`. Every landing batch that LACKS a
    * declared column gets it COMPUTED (fused into the staged write's pass);
    * a batch that carries it explicitly is VALIDATED against the expression
    * (null-safe equality, via the same raise_error guard as CHECK constraints).
    * The flagship use is Delta's own: declare `order_date = CAST(ts AS DATE)`
    * and partition by it — writers never materialize the column by hand, and
    * readers get hive partition pruning on it across every commit.
    *
    * Declared-after-data caveat: commits written BEFORE the declaration lack
    * the column and surface NULL through mergeSchema reads — backfill with
    * [[updateWhere]] (any update recomputes undeclared-assigned generated
    * columns) or [[compact]] (the rewrite passes through the staged write,
    * which computes absent columns). Expressions may reference only
    * non-generated columns. The file shares `_constraints.json`'s publish
    * protocol and its documented unversioned/last-rename-wins gaps.
    */
  def addGeneratedColumn(spark: SparkSession, location: String, name: String,
      genSql: String): Unit = {
    require(name.nonEmpty && !name.contains("\""), s"bad column name: $name")
    expr(genSql) // parse before persisting
    // a column the live data already carries must match the expression now —
    // otherwise the table would advertise a generation rule its data violates
    if (exists(spark, location) &&
        read(spark, location).columns.exists(_.equalsIgnoreCase(name)))
      checkAgainst(location, read(spark, location),
        Map(s"generated column $name" -> s"$name <=> ($genSql)"))
    writeKeyedJson(spark, location, GeneratedFile,
      generatedColumns(spark, location) + (name -> genSql))
  }

  def dropGeneratedColumn(spark: SparkSession, location: String,
      name: String): Unit =
    writeKeyedJson(spark, location, GeneratedFile,
      generatedColumns(spark, location) - name)

  // --- column DEFAULT values (DEFAULT <expr> DDL) ----------------------------------

  /** Column DEFAULTs (SQL-standard `DEFAULT <expr>`, Delta `allowColumnDefaults`
    * parity): the declared expression is STORED METADATA, applied by Spark's
    * analyzer — an SQL `INSERT` that omits the column (or writes the `DEFAULT`
    * keyword) gets the expression's value materialized into the written rows.
    * The engine's own write paths are untouched: a Scala-API batch missing the
    * column still lands NULL (additive-schema semantics), exactly like Delta,
    * where defaults are an SQL-surface feature. Declarations live in the spec
    * sidecar keyed by PHYSICAL column name (like type widenings), so
    * metadata-only renames carry the default with the column, and every change
    * rides [[updateTableSpec]]'s DDL archive — schema time travel shows the
    * default in force at each version. Identity and generated columns refuse a
    * default loudly: the engine computes those, a default would be dead
    * metadata that LOOKS live.
    */
  private val DefaultPrefix = "default."

  /** Declare (or replace) `name`'s DEFAULT as the SQL text `currentSql`.
    * Existing rows are untouched (metadata-only — Delta parity: a default
    * applies to rows written AFTER the declaration, through the SQL surface).
    */
  def setColumnDefault(spark: SparkSession, location: String, name: String,
      currentSql: String): Unit = {
    require(currentSql.trim.nonEmpty, s"empty DEFAULT expression for '$name'")
    expr(currentSql) // parse before persisting
    require(read(spark, location).columns.exists(_.equalsIgnoreCase(name)),
      s"column '$name' does not exist at $location")
    identitySpec(spark, location).foreach(id =>
      require(!id.name.equalsIgnoreCase(name),
        s"'$name' is the identity column at $location — the engine assigns " +
          "it; a DEFAULT would never apply"))
    require(!generatedColumns(spark, location).keys
        .exists(_.equalsIgnoreCase(name)),
      s"'$name' is a generated column at $location — the engine computes " +
        "it; a DEFAULT would never apply")
    val physical = physicalName(spark, location, name)
    updateTableSpec(spark, location)(_ + (s"$DefaultPrefix$physical" -> currentSql))
  }

  /** Drop `name`'s DEFAULT (no-op when none is declared — covers DROP DEFAULT
    * idempotence and the drop-column cleanup path).
    */
  def dropColumnDefault(spark: SparkSession, location: String,
      name: String): Unit = {
    val physical = physicalName(spark, location, name)
    updateTableSpec(spark, location)(_ - s"$DefaultPrefix$physical")
  }

  /** Defaults in force, keyed by LOGICAL column name: `name -> defaultSql`. */
  def columnDefaults(spark: SparkSession,
      location: String): Map[String, String] = {
    val mapping = columnMapping(spark, location)
    tableSpec(spark, location).collect {
      case (k, sql) if k.startsWith(DefaultPrefix) =>
        val p = k.stripPrefix(DefaultPrefix)
        mapping.getOrElse(p, p) -> sql
    }
  }

  /** The physical (file-level) name behind a logical column name — identity
    * when the column was never renamed.
    */
  private def physicalName(spark: SparkSession, location: String,
      name: String): String =
    columnMapping(spark, location).collectFirst {
      case (p, l) if l.equalsIgnoreCase(name) => p
    }.getOrElse(name)

  // --- column COMMENTs and NOT NULL (metadata-only column DDL) ----------------------

  /** `ALTER TABLE ... ALTER COLUMN ... COMMENT` — stored in the spec sidecar
    * keyed by physical name (renames carry it), surfaced as the standard
    * `comment` field metadata by the DSv2 table. `None` clears.
    */
  private val CommentPrefix = "col_comment."

  def setColumnComment(spark: SparkSession, location: String, name: String,
      comment: Option[String]): Unit = {
    require(read(spark, location).columns.exists(_.equalsIgnoreCase(name)),
      s"column '$name' does not exist at $location")
    val physical = physicalName(spark, location, name)
    updateTableSpec(spark, location) { spec =>
      comment match {
        case Some(c) => spec + (s"$CommentPrefix$physical" -> c)
        case None => spec - s"$CommentPrefix$physical"
      }
    }
  }

  /** Column comments in force, keyed by LOGICAL name. */
  def columnComments(spark: SparkSession,
      location: String): Map[String, String] = {
    val mapping = columnMapping(spark, location)
    tableSpec(spark, location).collect {
      case (k, c) if k.startsWith(CommentPrefix) =>
        val p = k.stripPrefix(CommentPrefix)
        mapping.getOrElse(p, p) -> c
    }
  }

  /** `ALTER COLUMN ... SET/DROP NOT NULL`: SET validates the LIVE data first
    * (a table advertising NOT NULL over data that violates it would be a lie)
    * and then enforces every landing batch — both via a named CHECK
    * constraint (`col IS NOT NULL` is FALSE for NULL, so CHECK semantics
    * reject exactly the null rows). The spec flag additionally flips the DSv2
    * schema's `nullable`, so Spark refuses literal-NULL INSERTs at analysis.
    * Post-rename caveat: the flag follows the column (physical-keyed); the
    * constraint EXPRESSION speaks the declare-time logical name — the same
    * documented gap every CHECK constraint has under renames.
    */
  private val NotNullPrefix = "notnull."

  def setColumnNullability(spark: SparkSession, location: String, name: String,
      nullable: Boolean): Unit = {
    require(read(spark, location).columns.exists(_.equalsIgnoreCase(name)),
      s"column '$name' does not exist at $location")
    val physical = physicalName(spark, location, name)
    val cname = s"__not_null_${physical.toLowerCase}"
    if (!nullable) {
      addConstraint(spark, location, cname, s"$name IS NOT NULL")
      updateTableSpec(spark, location)(_ + (s"$NotNullPrefix$physical" -> "true"))
    } else {
      dropConstraint(spark, location, cname)
      updateTableSpec(spark, location)(_ - s"$NotNullPrefix$physical")
    }
  }

  /** Columns declared NOT NULL, by LOGICAL name (lowercase). */
  def notNullColumns(spark: SparkSession, location: String): Set[String] = {
    val mapping = columnMapping(spark, location)
    tableSpec(spark, location).keys.collect {
      case k if k.startsWith(NotNullPrefix) =>
        val p = k.stripPrefix(NotNullPrefix)
        mapping.getOrElse(p, p).toLowerCase
    }.toSet
  }

  /** All column decorations in ONE (spec, mapping) read —
    * `(defaults, comments, notNullLower)` keyed by logical names. The DSv2
    * table decorates its schema on EVERY analysis; three separate accessor
    * calls would read the two sidecar files three times each (extra GETs per
    * query on an object store).
    */
  def columnDecorations(spark: SparkSession, location: String)
      : (Map[String, String], Map[String, String], Set[String]) = {
    val spec = tableSpec(spark, location)
    val mapping = columnMapping(spark, location)
    def logical(p: String) = mapping.getOrElse(p, p)
    (spec.collect { case (k, v) if k.startsWith(DefaultPrefix) =>
        logical(k.stripPrefix(DefaultPrefix)) -> v },
      spec.collect { case (k, v) if k.startsWith(CommentPrefix) =>
        logical(k.stripPrefix(CommentPrefix)) -> v },
      spec.keys.collect { case k if k.startsWith(NotNullPrefix) =>
        logical(k.stripPrefix(NotNullPrefix)).toLowerCase }.toSet)
  }

  /** The analyzer's column-DEFAULT metadata keys
    * (`ResolveDefaultColumns.CURRENT/EXISTS_DEFAULT_COLUMN_METADATA_KEY`):
    * stripped from every landing batch ([[stageData]]) and from every
    * assembled read schema (the DSv2 table re-injects them from the spec —
    * [[graft.sources.table.GraftCatalog]]).
    */
  private[graft] val DefaultMetaKeys = Seq("CURRENT_DEFAULT", "EXISTS_DEFAULT")

  private[graft] def hasDefaultMeta(
      f: org.apache.spark.sql.types.StructField): Boolean =
    DefaultMetaKeys.exists(f.metadata.contains)

  private[graft] def withoutDefaultMeta(
      f: org.apache.spark.sql.types.StructField)
      : org.apache.spark.sql.types.StructField = {
    val mb = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
    DefaultMetaKeys.foreach(mb.remove)
    f.copy(metadata = mb.build())
  }

  private def stripAnalyzerDefaultMeta(df: DataFrame): DataFrame =
    if (!df.schema.fields.exists(hasDefaultMeta)) df
    else df.select(df.schema.fields.map { f =>
      if (hasDefaultMeta(f)) df.col(f.name).as(f.name, withoutDefaultMeta(f).metadata)
      else df.col(f.name)
    }.toIndexedSeq: _*)

  private val GeneratedFile = "_generated.json"

  /** The table's generated-column declarations (empty when none). */
  def generatedColumns(spark: SparkSession, location: String): Map[String, String] =
    readKeyedJson(spark, location, GeneratedFile)

  // --- identity columns (GENERATED ALWAYS AS IDENTITY) ----------------------------

  /** One identity declaration: `(name, start, step, orderWithin)`. */
  private[catalog] case class IdentitySpec(name: String, start: Long, step: Long,
      orderWithin: Seq[String])

  private val IdentityKeyPrefix = "identity."

  /** Declare a `GENERATED ALWAYS AS IDENTITY` column (Delta parity): every
    * batch landed through [[write]]/[[idempotentAppend]] gets the column
    * ASSIGNED by the engine — a batch carrying it is refused (that is what
    * ALWAYS means). Values are unique and monotone across the table's whole
    * life: the high-water mark derives from the ALL-TIME commit-log max of the
    * column (driver-side, no data read), so ids are never reused — not after
    * deletes, not after overwrites, not after restores — exactly Delta's
    * "unique but not necessarily consecutive" promise. `step` must be
    * positive.
    *
    * `orderWithin` makes assignment DETERMINISTIC: each batch is sorted on
    * those columns and ids assigned densely in that order (one extra
    * pass — `zipWithIndex` — per landing batch), which is what a replayable
    * pipeline and the contract oracle need. Empty `orderWithin` assigns in
    * partition order: still unique/monotone, but not stable across reruns.
    *
    * Concurrency: identity allocation is a read-modify-write of the
    * high-water mark, so identity-table writes SERIALIZE on the table's DDL
    * lock (the log's optimistic claims alone would let two concurrent
    * appends allocate the same range). Non-identity tables pay nothing.
    *
    * Scope, enforced loudly: one identity column per table; declare it on an
    * empty table (or before any data carries the column); the merge/update
    * paths do NOT auto-assign — their change rows must carry explicit values
    * (the BY DEFAULT behavior), since a matched update must preserve the
    * row's existing id.
    */
  def addIdentityColumn(spark: SparkSession, location: String, name: String,
      start: Long = 0L, step: Long = 1L, orderWithin: Seq[String] = Nil): Unit = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_]+"),
      s"bad identity column name: $name")
    require(step > 0, s"identity step must be positive, got $step")
    updateTableSpec(spark, location) { spec =>
      val existing = spec.keys.find(_.startsWith(IdentityKeyPrefix))
      require(existing.isEmpty, s"table already has an identity column " +
        s"(${existing.get.stripPrefix(IdentityKeyPrefix)}) — one per table")
      // declaring before ANY commit is fine (the Scala-first flow); on an
      // existing table the column may pre-exist only while it holds no rows
      if (exists(spark, location) &&
          read(spark, location).columns.exists(_.equalsIgnoreCase(name)))
        require(fastCount(spark, location) == 0L,
          s"column '$name' already carries data at $location — identity must " +
            "own its column from the first row (declare before writing)")
      spec + (s"$IdentityKeyPrefix$name" ->
        s"$start|$step|${orderWithin.mkString(",")}")
    }
  }

  private[catalog] def identitySpec(spark: SparkSession,
      location: String): Option[IdentitySpec] =
    tableSpec(spark, location).collectFirst {
      case (k, v) if k.startsWith(IdentityKeyPrefix) =>
        val parts = v.split('|')
        IdentitySpec(k.stripPrefix(IdentityKeyPrefix), parts(0).toLong,
          parts(1).toLong,
          if (parts.length < 3) Nil
          else parts(2).split(',').toSeq.filter(_.nonEmpty))
    }

  /** The next identity value: `max(start, all-time-max + step)` where the
    * all-time max comes from EVERY commit's logged stats (live or not —
    * overwritten and restored-away data must never donate its ids back).
    * A commit that carried the column but logged no stat for it (stat-column
    * cap) forces one column-pruned scan fallback over the current snapshot.
    */
  private def nextIdentityValue(spark: SparkSession, location: String,
      id: IdentitySpec): Long = {
    val cs = commits(spark, location)
    if (cs.isEmpty) return id.start
    val physical = columnMapping(spark, location).collectFirst {
      case (p, l) if l.equalsIgnoreCase(id.name) => p
    }.getOrElse(id.name)
    val statMaxes = cs.flatMap(_.stats.get(physical)).map(_._2)
    val hwm: Option[Double] =
      if (statMaxes.nonEmpty) Some(statMaxes.max)
      else {
        val snap = read(spark, location)
        if (!snap.columns.exists(_.equalsIgnoreCase(id.name))) None
        else Option(snap.agg(max(col(id.name))).collect().head.get(0))
          .map(_.asInstanceOf[Long].toDouble)
      }
    hwm.map(m => math.max(id.start, m.toLong + id.step)).getOrElse(id.start)
  }

  /** Assign the identity column to a landing batch (which must NOT carry it —
    * GENERATED ALWAYS). Sorted on `orderWithin` when declared, then densely
    * indexed with `zipWithIndex` (order-preserving over the sorted
    * partitions).
    */
  private def assignIdentity(df0: DataFrame, location: String,
      id: IdentitySpec, nextStart: Long): DataFrame = {
    // a SQL `INSERT INTO t (k, ...)` arrives with the UNLISTED identity
    // column padded all-NULL (Spark's by-name filler) — strip that; a batch
    // carrying REAL values violates ALWAYS and refuses. The null probe costs
    // one batch-sized count, identity tables only.
    val df =
      if (!df0.columns.exists(_.equalsIgnoreCase(id.name))) df0
      else {
        val nonNull = df0.filter(col(id.name).isNotNull).limit(1).count()
        require(nonNull == 0L,
          s"'${id.name}' is GENERATED ALWAYS AS IDENTITY at $location — the " +
            "engine assigns it; drop the column (or its values) from the batch")
        df0.drop(df0.columns.find(_.equalsIgnoreCase(id.name)).get)
      }
    val ordered =
      if (id.orderWithin.isEmpty) df
      else df.orderBy(id.orderWithin.map(col): _*)
    val outSchema = ordered.schema
      .add(id.name, org.apache.spark.sql.types.LongType, nullable = false)
    val indexed = ordered.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(
        row.toSeq :+ (nextStart + id.step * i))
    }
    val assigned = df.sparkSession.createDataFrame(indexed, outSchema)
    // a padded SQL INSERT arrived with the column in its DECLARED position —
    // keep that order instead of re-appending at the end, or the commit's
    // schema (and the mergeSchema union over commits, whose column order
    // follows the files) would flip the user-visible layout
    if (df0.columns.exists(_.equalsIgnoreCase(id.name)))
      assigned.select(df0.columns.map(col).toIndexedSeq: _*)
    else assigned
  }

  /** Compute declared generated columns a batch LACKS; return the transformed
    * batch plus validation checks for the ones it CARRIES (null-safe equality,
    * enforced by the same fused guard as CHECK constraints).
    */
  private def applyGenerated(df0: DataFrame, gen: Map[String, String])
      : (DataFrame, Map[String, String]) = {
    if (gen.isEmpty) return (df0, Map.empty)
    // a SQL `INSERT INTO t (k, ...)` pads unlisted columns ALL-NULL — for a
    // generated column that means "compute it" (Delta's INSERT semantics),
    // not "validate NULL against the expression". The all-NULL probe costs
    // one batch count per CARRIED generated column; batches that omit the
    // column (the Scala-first flow) skip it entirely.
    val df = gen.keys.foldLeft(df0) { (d, n) =>
      d.columns.find(_.equalsIgnoreCase(n)) match {
        case Some(actual) if d.filter(col(actual).isNotNull).limit(1).count() == 0 =>
          d.drop(actual)
        case _ => d
      }
    }
    val present = df.columns.map(_.toLowerCase).toSet
    val computed = gen.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, g)) =>
      if (present.contains(n.toLowerCase)) d else d.withColumn(n, expr(g))
    }
    val checks = gen.collect { case (n, g) if present.contains(n.toLowerCase) =>
      s"generated column $n" -> s"$n <=> ($g)" }
    (computed, checks)
  }

  /** COLUMN MAPPING (Delta name-mode column mapping parity): RENAME and DROP
    * columns as METADATA operations — no data file is rewritten. The registry
    * (`_columns.json`) maps each column's PHYSICAL name (what the parquet files
    * carry, fixed at first write) to its current LOGICAL name ("" = dropped).
    * Every API surface speaks logical names: reads translate physical→logical
    * after the scan, writes translate logical→physical before the files land,
    * so files written before and after a rename stay mutually consistent (and
    * commit stats stay keyed physically — [[readPruned]] translates its probe).
    *
    * Scoped contract, enforced loudly rather than half-supported:
    *  - PARTITION columns cannot be renamed or dropped (their physical names
    *    are baked into hive directory layouts and scoped-merge specs);
    *  - a column referenced by a CHECK constraint or a generated-column
    *    expression must have those declarations dropped first;
    *  - a batch may not land a column whose name collides with a renamed-away
    *    or dropped PHYSICAL name (re-using a dropped name needs a [[compact]]
    *    — which materializes the current logical schema — followed by
    *    [[clearColumnMapping]]);
    *  - change feeds materialize the logical names in force at capture time.
    */
  /** Keys of spec-registered added columns ([[addColumn]]): `added_col.<seq>.<name>`
    * — the zero-padded sequence preserves declaration order through the sorted
    * keyed-JSON publish.
    */
  private val AddedColPrefix = "added_col."

  /** ALTER TABLE ADD COLUMN as metadata — Delta parity: no file is touched, the
    * new column reads as NULL everywhere until a write carries it (additive
    * mergeSchema evolution then takes over file-side; the spec fill only applies
    * while the column is physically absent). Registered in the `_table_spec.json`
    * sidecar; `typeDdl` is a Spark DDL type string (`BIGINT`, `DECIMAL(10,2)`,
    * ...). Declaration order is preserved; columns append at the end of the
    * schema, as Delta's ADD COLUMN does by default.
    */
  def addColumn(spark: SparkSession, location: String, name: String,
      typeDdl: String): Unit = {
    require(name.nonEmpty && !name.contains("\"") && !name.contains("."),
      s"bad column name: $name")
    org.apache.spark.sql.types.DataType.fromDDL(typeDdl) // parses or throws now
    val schema = read(spark, location).columns
    require(!schema.exists(_.equalsIgnoreCase(name)),
      s"column '$name' already exists at $location")
    // a RETIRED physical name (renamed/dropped) still lives in the files; a new
    // added column may not shadow it until materializeMapping frees the name
    columnMapping(spark, location).keys.find(_.equalsIgnoreCase(name)).foreach(p =>
      throw new IllegalArgumentException(s"'$p' is a retired physical column " +
        s"name at $location — run materializeMapping first to reuse it"))
    // seq derivation and the merge run INSIDE the DDL lock: two concurrent
    // ADD COLUMNs must not collide on a sequence number or drop each other
    updateTableSpec(spark, location) { spec =>
      val seq = spec.keys.count(_.startsWith(AddedColPrefix))
      spec + (f"$AddedColPrefix$seq%03d.$name" -> typeDdl)
    }
  }

  /** Spec-registered added columns in declaration order. */
  private def addedColumnsIn(
      spec: Map[String, String]): Seq[(String, org.apache.spark.sql.types.DataType)] =
    spec.toSeq
      .filter(_._1.startsWith(AddedColPrefix)).sortBy(_._1)
      .map { case (k, ddl) =>
        k.stripPrefix(AddedColPrefix).dropWhile(_ != '.').drop(1) ->
          org.apache.spark.sql.types.DataType.fromDDL(ddl)
      }

  /** Fill declared-but-not-yet-materialized added columns with typed NULLs —
    * applied to every snapshot read, so the declared schema is visible the
    * moment the DDL lands. A column some files already carry is left alone
    * (mergeSchema surfaces it with per-file nulls).
    */
  private def withAddedColumnsFrom(spec: Map[String, String],
      df: DataFrame): DataFrame =
    addedColumnsIn(spec).foldLeft(df) { case (d, (n, t)) =>
      if (d.columns.exists(_.equalsIgnoreCase(n))) d
      else d.withColumn(n, lit(null).cast(t))
    }

  /** Keys of declared TYPE WIDENINGS ([[widenColumn]]): `widen.<physicalName>`
    * → Spark DDL type in force for reads and all future writes.
    */
  private val WidenPrefix = "widen."

  /** The value-preserving widening lattice — exactly the conversions whose
    * value sets nest, so no stored value can change meaning. Everything else
    * (narrowing, numeric↔string, int→float precision loss) is refused.
    */
  private def canWiden(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** ALTER COLUMN ... TYPE — TYPE WIDENING as metadata (Delta type-widening
    * parity): no file is rewritten. The declaration lands in the spec sidecar
    * (`widen.<physical>`, DDL-archived for schema time travel: as-of reads
    * before the DDL still surface the narrow type); reads cast the assembled
    * snapshot to the wide type, and every future write casts its batch before
    * files land, so post-widen files are uniformly wide. Only the
    * value-preserving lattice is allowed ([[canWiden]]); partition columns
    * (directory-name-derived types) and the identity column are refused.
    *
    * Read-plan cost, stated honestly: while a widen declaration exists, the
    * multi-commit scan assembles as a per-commit UNION (whose analyzer
    * coercion reconciles narrow and wide files) instead of one multi-path
    * parquet scan — filters still push into every branch. A [[compact]]
    * rewrites the live set at the wide type; the union shape persists until
    * then. Commit min/max stats are type-agnostic doubles and blooms hash
    * integral values as longs, so data skipping is unaffected.
    */
  def widenColumn(spark: SparkSession, location: String, name: String,
      typeDdl: String): Unit = {
    val target = org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
    val field = read(spark, location).schema.fields
      .find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"column '$name' does not exist at $location"))
    if (field.dataType == target) return // idempotent
    require(canWiden(field.dataType, target),
      s"cannot change '$name' from ${field.dataType.sql} to ${target.sql} — " +
        "only value-preserving widenings are supported (TINYINT→SMALLINT→INT→" +
        "BIGINT, FLOAT→DOUBLE)")
    val partCols = (commits(spark, location).flatMap(_.partition_by.split(","))
      ++ declaredPartitioning(spark, location))
      .filter(_.nonEmpty).map(_.toLowerCase).toSet
    require(!partCols.contains(name.toLowerCase),
      s"'$name' is a partition column at $location — its type derives from " +
        "directory names and cannot be widened")
    identitySpec(spark, location).foreach(id =>
      require(!id.name.equalsIgnoreCase(name),
        s"'$name' is the identity column at $location — identity assignment " +
          "owns its type"))
    addedColKey(spark, location, name) match {
      case Some(k) if !materializedInFiles(spark, location, name) =>
        // registry-only added column: its declared type IS the registry entry
        updateTableSpec(spark, location)(_ + (k -> typeDdl))
      case _ =>
        val physical = columnMapping(spark, location).collectFirst {
          case (p, l) if l.equalsIgnoreCase(name) => p
        }.getOrElse(name)
        updateTableSpec(spark, location)(_ + (s"$WidenPrefix$physical" -> typeDdl))
    }
  }

  /** Widenings in force under `spec`, keyed by PHYSICAL column name. */
  private def wideningsIn(spec: Map[String, String])
      : Map[String, org.apache.spark.sql.types.DataType] =
    spec.collect { case (k, ddl) if k.startsWith(WidenPrefix) =>
      k.stripPrefix(WidenPrefix) ->
        org.apache.spark.sql.types.DataType.fromDDL(ddl)
    }

  /** Cast a LOGICAL-named snapshot to its declared wide types. */
  private def withWideningFrom(spec: Map[String, String],
      mapping: Map[String, String], df: DataFrame): DataFrame =
    wideningsIn(spec).foldLeft(df) { case (d, (phys, t)) =>
      val logical = mapping.getOrElse(phys, phys)
      if (logical.isEmpty || !d.columns.exists(_.equalsIgnoreCase(logical))) d
      else d.withColumn(logical, col(logical).cast(t))
    }

  /** The added-spec entry for `name`, if the column is spec-registered. */
  private def addedColKey(spark: SparkSession, location: String,
      name: String): Option[String] =
    tableSpec(spark, location).keys
      .find(k => k.startsWith(AddedColPrefix) &&
        k.stripPrefix(AddedColPrefix).dropWhile(_ != '.').drop(1)
          .equalsIgnoreCase(name))

  /** Whether any LIVE data file physically carries `name` (under the current
    * mapping's logical view). This — not registry presence — decides whether a
    * rename/drop of a spec-registered added column can stay spec-only: after
    * ADD COLUMN → a write that carries the column, the files own the data, and
    * a spec-key-only rename would keep surfacing the old physical column WITH
    * its data (mergeSchema) while [[withAddedColumns]] resurrects an all-NULL
    * twin under the new name — a silent data loss. Cost: a footer-schema
    * resolve over the live commit roots, paid only on DDL.
    */
  private def materializedInFiles(spark: SparkSession, location: String,
      name: String): Boolean = {
    val cs = commits(spark, location)
    cs.nonEmpty && {
      val live = liveCommitsFrom(cs, location, cs.last.version)
      val hasData = live.exists(c =>
        !((c.operation == "delete" || c.operation == "replace") && c.data_dir.isEmpty))
      hasData &&
        toLogical(assembleScanPhysical(spark, location, live, keepMeta = false,
          widened = tableSpec(spark, location).keys.exists(_.startsWith(WidenPrefix))),
          columnMapping(spark, location)).columns.exists(_.equalsIgnoreCase(name))
    }
  }

  def renameColumn(spark: SparkSession, location: String, oldName: String,
      newName: String): Unit = {
    require(newName.nonEmpty && !newName.contains("\"") &&
      !newName.contains("."), s"bad column name: $newName")
    val schema = read(spark, location).columns
    require(schema.exists(_.equalsIgnoreCase(oldName)),
      s"column '$oldName' does not exist at $location (have ${schema.mkString(", ")})")
    require(!schema.exists(_.equalsIgnoreCase(newName)),
      s"column '$newName' already exists at $location")
    // the new name may not shadow a RETIRED physical name still living in the
    // files (renaming BACK to oldName's own physical carrier is fine)
    val mapping = columnMapping(spark, location)
    val physicalOfOld = mapping.collectFirst {
      case (p, l) if l.equalsIgnoreCase(oldName) => p
    }.getOrElse(oldName)
    mapping.keys.find(k => k.equalsIgnoreCase(newName) &&
        !k.equalsIgnoreCase(physicalOfOld)).foreach(p =>
      throw new IllegalArgumentException(s"'$p' is a retired physical column " +
        s"name at $location — run materializeMapping first to reuse it"))
    // a spec-registered added column renames inside the spec ONLY while no
    // live file carries it (the mapping file must never reference a physical
    // name no file holds); once a write materialized it, the rename goes
    // through the column mapping — data follows the new name — AND the spec
    // key renames too, so withAddedColumns cannot resurrect a NULL column
    // under the old name
    addedColKey(spark, location, oldName) match {
      case Some(k) =>
        // compound DDL (mapping + spec): raw writes, ONE archive under the
        // DDL lock — readers never see the half-renamed middle state and
        // concurrent DDL writers cannot interleave the two-file write
        withDdlArchive(spark, location) {
          if (materializedInFiles(spark, location, oldName))
            renameMaterializedColumnRaw(spark, location, oldName, newName)
          val spec = tableSpec(spark, location)
          val seq = k.stripPrefix(AddedColPrefix).takeWhile(_ != '.')
          writeTableSpecRaw(spark, location,
            spec - k + (s"$AddedColPrefix$seq.$newName" -> spec(k)))
        }
      case None =>
        withDdlArchive(spark, location) {
          renameMaterializedColumnRaw(spark, location, oldName, newName)
        }
    }
    // the engine-generated NOT NULL constraint has a mechanical shape — its
    // expression migrates with the rename (user CHECK constraints keep their
    // documented declare-time-name gap; this one is OURS to maintain, and
    // leaving it would turn every later write into a confusing unresolved-
    // column failure)
    val notNullName = s"__not_null_${physicalOfOld.toLowerCase}"
    if (constraints(spark, location).contains(notNullName))
      writeConstraints(spark, location,
        constraints(spark, location) + (notNullName -> s"$newName IS NOT NULL"))
  }

  private def renameMaterializedColumnRaw(spark: SparkSession, location: String,
      oldName: String, newName: String): Unit = {
    requireUnmapped(spark, location, oldName)
    val mapping = columnMapping(spark, location)
    // the physical name is the one the files carry: either this logical name
    // was itself a rename target (chain), or it IS the physical name
    val physical = mapping.collectFirst {
      case (p, l) if l.equalsIgnoreCase(oldName) => p
    }.getOrElse(oldName)
    writeKeyedJson(spark, location, ColumnsFile, mapping + (physical -> newName))
  }

  /** DROP COLUMN as metadata: the column disappears from every read (old and
    * new commits alike) without touching a file. Same scoped contract as
    * [[renameColumn]].
    */
  def dropColumn(spark: SparkSession, location: String, name: String): Unit = {
    val schema = read(spark, location).columns
    require(schema.exists(_.equalsIgnoreCase(name)),
      s"column '$name' does not exist at $location (have ${schema.mkString(", ")})")
    // the column's engine-generated NOT NULL constraint goes WITH it — left
    // behind, its now-unresolvable expression would fail every later write
    val physicalOfDropped = physicalName(spark, location, name)
    val notNullName = s"__not_null_${physicalOfDropped.toLowerCase}"
    if (constraints(spark, location).contains(notNullName)) {
      dropConstraint(spark, location, notNullName)
      updateTableSpec(spark, location)(_ - s"$NotNullPrefix$physicalOfDropped")
    }
    // dropping a spec-registered added column forgets the spec entry; if a
    // write already materialized it into files, the mapping must ALSO retire
    // the physical column, else mergeSchema keeps surfacing it with its data
    // and the DROP silently no-ops
    addedColKey(spark, location, name) match {
      case Some(k) =>
        // compound DDL: raw writes, one archive, under the DDL lock (see
        // renameColumn)
        withDdlArchive(spark, location) {
          if (materializedInFiles(spark, location, name))
            dropMaterializedColumnRaw(spark, location, name)
          writeTableSpecRaw(spark, location, tableSpec(spark, location) - k)
        }
      case None =>
        withDdlArchive(spark, location) {
          dropMaterializedColumnRaw(spark, location, name)
        }
    }
  }

  private def dropMaterializedColumnRaw(spark: SparkSession, location: String,
      name: String): Unit = {
    requireUnmapped(spark, location, name)
    val mapping = columnMapping(spark, location)
    val physical = mapping.collectFirst {
      case (p, l) if l.equalsIgnoreCase(name) => p
    }.getOrElse(name)
    writeKeyedJson(spark, location, ColumnsFile, mapping + (physical -> ""))
  }

  /** Forget the registry — only safe when the live files already carry the
    * logical names, which is exactly what [[materializeMapping]] arranges
    * (an ordinary [[compact]] would NOT: its staged write translates back to
    * physical names to stay consistent with the other live files).
    */
  private def clearColumnMapping(spark: SparkSession, location: String): Unit =
    withDdlArchive(spark, location) {
      writeKeyedJson(spark, location, ColumnsFile, Map.empty)
    }

  /** Rewrite the live set with today's LOGICAL schema materialized into the
    * files, then clear the mapping — the escape hatch that makes dropped
    * names reusable and hands external engines files whose column names match
    * the table's. One live-set rewrite (the [[compact]] cost shape).
    */
  def materializeMapping(spark: SparkSession, location: String): Long = {
    val fs = fileSystem(spark, location)
    val cs = commits(spark, location)
    require(cs.nonEmpty, s"no commits at $location")
    val latest = cs.last
    val snap = read(spark, location) // logical view
    val partitioning = latest.partition_by.split(",").toSeq.filter(_.nonEmpty)
    // clear FIRST in a staged sense: write the data bypassing the logical->
    // physical translation by staging AFTER clearing the registry; a lost
    // claim leaves the cleared registry with the old files still live, which
    // reads translate as before only if the registry exists — so order
    // matters: stage the materialized copy, claim, then clear.
    val dataDir = s"d-${java.util.UUID.randomUUID()}"
    val obs = Observation(s"vt_rows_$dataDir")
    StagedWrite.parquet(snap.observe(obs, count(lit(1)).as("rows")),
      s"$location/_data/$dataDir", partitioning)
    val rows = obs.get("rows").asInstanceOf[Long]
    if (!claimCommit(fs, location, latest.version + 1, "compact", rows, dataDir,
        partitioning)) {
      fs.delete(new Path(s"$location/_data/$dataDir"), true)
      throw new java.util.ConcurrentModificationException(
        s"a concurrent commit raced materializeMapping at $location — retry")
    }
    clearColumnMapping(spark, location)
    maybeCheckpoint(spark, location, latest.version + 1)
    latest.version + 1
  }

  private val ColumnsFile = "_columns.json"

  /** The physical→logical column mapping ("" logical = dropped); empty when no
    * rename/drop was ever made.
    */
  def columnMapping(spark: SparkSession, location: String): Map[String, String] =
    readKeyedJson(spark, location, ColumnsFile)

  private def requireUnmapped(spark: SparkSession, location: String,
      name: String): Unit = {
    val partCols = commits(spark, location)
      .flatMap(_.partition_by.split(",")).filter(_.nonEmpty)
      .map(_.toLowerCase).toSet
    require(!partCols.contains(name.toLowerCase),
      s"'$name' is a partition column at $location — partition columns cannot " +
        "be renamed or dropped (their physical names are baked into the layout)")
    // engine-generated NOT NULL constraints are exempt: their expression is
    // mechanical, so renameColumn MIGRATES them instead of refusing (user
    // CHECK/generated declarations keep the refusal — their expressions are
    // arbitrary SQL the engine cannot rewrite safely)
    val refs = (constraints(spark, location) ++
      generatedColumns(spark, location)).filter { case (cname, sql) =>
      !cname.startsWith("__not_null_") &&
        s"(?i)\\b${java.util.regex.Pattern.quote(name)}\\b".r
          .findFirstIn(sql).isDefined
    }
    require(refs.isEmpty,
      s"'$name' is referenced by ${refs.keys.mkString(", ")} at $location — " +
        "drop those declarations first")
  }

  /** Translate a post-scan (physical-named) frame to the logical schema. */
  private def toLogical(df: DataFrame,
      mapping: Map[String, String]): DataFrame =
    mapping.foldLeft(df) { case (d, (p, l)) =>
      if (!d.columns.exists(_.equalsIgnoreCase(p))) d
      else if (l.isEmpty) d.drop(p)
      else d.withColumnRenamed(p, l)
    }

  /** Translate a logical-named batch to physical names for the file writer,
    * refusing collisions with renamed-away or dropped physical names.
    */
  private def toPhysical(df: DataFrame,
      mapping: Map[String, String]): DataFrame =
    mapping.foldLeft(df) { case (d, (p, l)) =>
      val carriesPhysical = d.columns.exists(c =>
        c.equalsIgnoreCase(p) && !p.equalsIgnoreCase(l))
      if (carriesPhysical) throw new IllegalArgumentException(
        s"batch carries column '$p', which is the PHYSICAL name of a " +
          (if (l.isEmpty) "dropped column" else s"column renamed to '$l'") +
          " — run materializeMapping() to free the name")
      if (l.nonEmpty && d.columns.exists(_.equalsIgnoreCase(l)))
        d.withColumnRenamed(l, p)
      else d
    }

  /** The data of `cs` for the streaming source's append batch, served under
    * the table's LOGICAL schema: one [[LogFileIndex]] scan over their data
    * dirs, read with `schema` itself when no column was ever renamed or
    * dropped, else with the commits' physical schema mapped to logical names.
    */
  private[graft] def readCommitsLogical(spark: SparkSession, location: String,
      cs: Seq[Commit], schema: StructType): DataFrame = {
    val mapping = columnMapping(spark, location)
    def scan(s: Seq[Commit] => Option[StructType]) =
      scanCommits(spark, cs, keepMeta = false, perCommit = false, s)(c =>
        LogFileIndex.dir(spark, dataPath(location, c)))
    if (mapping.isEmpty) scan(_ => Some(schema))
    else {
      val raw = toLogical(scan(logReadSchema), mapping)
      schema.fields.foldLeft(raw) { (d, f) =>
        if (d.columns.exists(_.equalsIgnoreCase(f.name))) d
        else d.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(schema.fieldNames.map(col).toSeq: _*)
    }
  }

  /** One job for ALL constraints: a single filter on the OR of the violation
    * predicates finds the first bad row; per-constraint flags selected alongside
    * name the culprits without a second pass or a re-executed plan. Used only by
    * [[addConstraint]] (validating EXISTING data is read-only); batch writes
    * enforce inline via [[withCheckGuard]] instead, which costs zero extra jobs.
    */
  private def checkAgainst(location: String, df: DataFrame,
      cs: Map[String, String]): Unit = {
    val ordered = cs.toSeq.sortBy(_._1)
    val flags = ordered.map { case (_, c) => !coalesce(expr(c), lit(true)) }
    val hit = df
      .withColumns(ordered.map(_._1 + "__viol").zip(flags).toMap)
      .filter(flags.reduce(_ || _))
      .limit(1).collect()
    hit.headOption.foreach { row =>
      val fired = ordered.collect {
        case (n, c) if row.getAs[Boolean](n + "__viol") => s""""$n" ($c)"""
      }
      throw new IllegalArgumentException(
        s"CHECK constraint ${fired.mkString(", ")} violated at $location — " +
          s"first bad row: $row")
    }
  }

  /** Constraint enforcement FUSED into the staged write (the Delta
    * CheckDeltaInvariant shape): the batch's first column is wrapped in a
    * `raise_error` guard that fires on the first violating row, so validation
    * rides the write's own pass over the data — a constrained commit executes
    * the batch lineage ONCE, instead of a validation job followed by a
    * re-executed write. The guard preserves the column's value and type on
    * every passing row, and a batch that lacks a constrained column still
    * fails analysis loudly (a constraint pins the columns it references).
    * SQL CHECK semantics: TRUE or NULL passes; only FALSE violates.
    */
  private def withCheckGuard(df: DataFrame, location: String,
      cs: Map[String, String]): DataFrame = {
    if (cs.isEmpty) return df
    val ordered = cs.toSeq.sortBy(_._1)
    val flags = ordered.map { case (_, c) => !coalesce(expr(c), lit(true)) }
    val msg = concat(
      lit("CHECK constraint "),
      concat_ws(", ", ordered.zip(flags).map { case ((n, c), f) =>
        when(f, lit(s""""$n" ($c)""")) }: _*),
      lit(s" violated at $location — first bad row: "),
      to_json(struct(df.columns.map(col): _*)))
    val guard = df.columns.head
    df.withColumn(guard,
      when(flags.reduce(_ || _), raise_error(msg).cast(df.schema.head.dataType))
        .otherwise(col(guard)))
  }

  /** A write job aborted by a [[withCheckGuard]] `raise_error` surfaces as a
    * SparkException chain; surface the original CHECK message with the same
    * exception type the pre-fusion validation threw. Anything else rethrows.
    */
  private def translateCheckFailure(e: Throwable): Nothing = {
    var t: Throwable = e
    while (t != null) {
      val m = Option(t.getMessage).getOrElse("")
      val i = m.indexOf("CHECK constraint ")
      if (i >= 0) throw new IllegalArgumentException(m.substring(i), e)
      t = t.getCause
    }
    throw e
  }

  /** Exactly-once append for streaming `foreachBatch` sinks (Delta transactional-
    * writer parity): a commit already tagged with this `(txnApp, txnId)` makes the
    * call a no-op, so micro-batch REPLAYS after a crash cannot double-append.
    * `txnApp` must be stable across restarts of the same logical writer (the
    * checkpoint location is the natural choice) and distinct between writers.
    * Returns Some(version) when committed, None when deduplicated.
    */
  def idempotentAppend(batch: DataFrame, location: String, txnApp: String,
      txnId: Long, partitionBy: Seq[String] = Nil): Option[Long] =
    idempotentCommit(batch, location, "append", txnApp, txnId, partitionBy)

  /** Exactly-once full replacement for streaming maintainers that publish a NEW
    * state per micro-batch (e.g. an incrementally-maintained aggregate view,
    * [[graft.streaming.LiveView]]): same `(txnApp, txnId)` replay dedupe as
    * [[idempotentAppend]], but the commit is an `overwrite` — the batch IS the
    * next complete state, not a delta to append. No append-schema enforcement:
    * an overwrite legitimately resets the schema.
    *
    * `expectedVersion` makes the publish a COMPARE-AND-SWAP: the commit only
    * lands while the table's newest version is still the one the new state was
    * computed FROM (`Some(-1)` = table must not exist yet). A read-modify-write
    * maintainer passes the version it read; a rival that committed in between
    * then fails this publish loudly (ConcurrentModificationException) instead
    * of being silently overwritten — the remaining race the txnApp ownership
    * check alone cannot close.
    */
  def idempotentOverwrite(batch: DataFrame, location: String, txnApp: String,
      txnId: Long, partitionBy: Seq[String] = Nil,
      expectedVersion: Option[Long] = None): Option[Long] =
    idempotentCommit(batch, location, "overwrite", txnApp, txnId, partitionBy,
      expectedVersion)

  /** The shared exactly-once commit loop behind [[idempotentAppend]] and
    * [[idempotentOverwrite]] — ONE implementation of the replay-dedupe /
    * claim-retry / staged-data-cleanup protocol, so the two streaming commit
    * paths cannot silently diverge. Appends additionally enforce the additive
    * schema contract; overwrites legitimately reset the schema.
    */
  private def idempotentCommit(batch0: DataFrame, location: String,
      operation: String, txnApp: String, txnId: Long,
      partitionBy: Seq[String],
      expectedVersion: Option[Long] = None): Option[Long] = {
    val spark = batch0.sparkSession
    val fs = fileSystem(spark, location)
    def alreadyCommitted: Boolean =
      commits(spark, location).exists(c => c.txn_app == txnApp && c.txn_id == txnId)
    if (alreadyCommitted) return None
    // identity tables: assign under the DDL lock, same as [[write]] — without
    // this, streaming batches would land NULL ids, silently voiding ALWAYS.
    // Recursing with the lock held is safe: the replay-dedupe check above
    // already returned for duplicates, and the lock releases before retry
    // claims (the streaming replay twin race is still closed by the in-loop
    // re-check below).
    val batch = identitySpec(spark, location) match {
      case Some(id) => return withDdlLock(spark, location) {
        idempotentCommitBody(
          assignIdentity(batch0, location, id,
            nextIdentityValue(spark, location, id)),
          location, operation, txnApp, txnId, partitionBy, expectedVersion)
      }
      case None => batch0
    }
    idempotentCommitBody(batch, location, operation, txnApp, txnId,
      partitionBy, expectedVersion)
  }

  private def idempotentCommitBody(batch: DataFrame, location: String,
      operation: String, txnApp: String, txnId: Long,
      partitionBy: Seq[String],
      expectedVersion: Option[Long]): Option[Long] = {
    val spark = batch.sparkSession
    val fs = fileSystem(spark, location)
    def alreadyCommitted: Boolean =
      commits(spark, location).exists(c => c.txn_app == txnApp && c.txn_id == txnId)
    if (operation == "append") enforceAppendSchema(spark, location, batch, partitionBy)
    val (dataDir, rows, stats, sstats, nulls, schemaJson) =
      stageData(batch, location, partitionBy, constraints(spark, location))
    var committed = -1L
    var attempt = 0
    while (committed < 0) {
      // re-check inside the loop: losing a claim may mean OUR replay twin won it
      if (alreadyCommitted) {
        fs.delete(new Path(s"$location/_data/$dataDir"), true)
        return None
      }
      val newest = commits(spark, location).lastOption.map(_.version).getOrElse(-1L)
      // CAS: the state this batch was computed from must still be the newest —
      // checked inside the retry loop, so a rival winning a claim race is also
      // caught (its commit bumps the version this iteration observes)
      expectedVersion.filter(_ != newest).foreach { ev =>
        fs.delete(new Path(s"$location/_data/$dataDir"), true)
        throw new java.util.ConcurrentModificationException(
          s"$location moved to version $newest while this $operation was " +
            s"computed against $ev — a concurrent writer got in between; " +
            "recompute from the current state")
      }
      val v = newest + 1
      if (claimCommit(fs, location, v, operation, rows, dataDir, partitionBy, stats,
          txnApp, txnId, sstats = sstats, nulls = nulls,
          schemaJson = schemaJson)) committed = v
      else {
        attempt += 1
        if (attempt >= MaxClaimAttempts) {
          fs.delete(new Path(s"$location/_data/$dataDir"), true)
          throw new IllegalStateException(
            s"lost $MaxClaimAttempts consecutive commit races at $location — giving up")
        }
        Thread.sleep(math.min(500L, 10L * attempt))
      }
    }
    maybeCheckpoint(spark, location, committed)
    Some(committed)
  }

  /** OPTIMIZE-parity compaction: rewrite the CURRENT live set as one "compact"
    * commit — optionally Z-order-clustered ([[graft.ops.Layout.zorderBy]]) — so a
    * long-running append table stops paying a per-commit scan branch. Older versions
    * stay readable until [[vacuum]] reclaims them.
    *
    * Concurrency: the rewrite may ONLY land at `snapshotVersion + 1`. Claiming any
    * later slot would publish state that silently drops a concurrent writer's commit,
    * so on a lost claim the staged rewrite is discarded and the compaction restarts
    * from a fresh snapshot (same conflict rule Delta's OPTIMIZE follows).
    */
  def compact(spark: SparkSession, location: String, zorderBy: Seq[String] = Nil,
      numFiles: Int = 0, maxAttempts: Int = 3, sortBy: Seq[String] = Nil): Long = {
    require(zorderBy.isEmpty || sortBy.isEmpty,
      "compact takes zorderBy OR sortBy, not both")
    val fs = fileSystem(spark, location)
    var done = -1L
    var attempt = 0
    while (done < 0) {
      val cs = commits(spark, location)
      require(cs.nonEmpty, s"no commits at $location")
      val latest = cs.last
      val current = readAsOf(spark, location, latest.version)
      val files =
        if (numFiles > 0) numFiles
        else spark.sessionState.conf.numShufflePartitions
      val clustered =
        if (sortBy.nonEmpty) {
          // LEXICOGRAPHIC clustering — the layout the incremental index
          // maintainers land per batch (range-partition on the leading key +
          // sort within files), preserved across compaction so pushed-
          // predicate row-group pruning survives the rewrite; also the only
          // clustering available on STRING keys, where the z-value's
          // numeric quantile bucketing cannot rank
          val sc = sortBy.map(col)
          val ranged =
            if (numFiles > 0) current.repartitionByRange(numFiles, sc.head)
            else current.repartitionByRange(sc.head)
          ranged.sortWithinPartitions(sc: _*)
        }
        else if (zorderBy.nonEmpty) graft.ops.Layout.zorderBy(current, zorderBy, files)
        else if (numFiles > 0) current.repartition(numFiles)
        else current
      val partitioning = latest.partition_by.split(",").toSeq.filter(_.nonEmpty)
      val (dataDir, rows, stats, sstats, nulls, schemaJson) =
        stageData(clustered, location, partitioning)
      if (claimCommit(fs, location, latest.version + 1, "compact", rows, dataDir,
          partitioning, stats, sstats = sstats, nulls = nulls,
          schemaJson = schemaJson))
        done = latest.version + 1
      else {
        fs.delete(new Path(s"$location/_data/$dataDir"), true)
        attempt += 1
        if (attempt >= maxAttempts) throw new IllegalStateException(
          s"compaction of $location lost $maxAttempts snapshot races — giving up")
      }
    }
    maybeCheckpoint(spark, location, done)
    done
  }

  /** OPTIMIZE with a TARGET FILE SIZE instead of a file count — the form a
    * maintenance job actually wants (Delta's `optimize.maxFileSize` shape): the
    * output file count derives from the LOG-RESOLVED live byte size
    * ([[snapshotStats]] — no data read to size the job), so the same call works
    * unchanged on a 1 GB table (8 files) and a 1 TB one (8192 files) at the
    * 128 MB default that keeps one scan task per file under
    * `spark.sql.files.maxPartitionBytes`.
    */
  def compactToFileSize(spark: SparkSession, location: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Nil): Long = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val (_, bytes) = snapshotStats(spark, location)
    val files = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    compact(spark, location, zorderBy, numFiles = files.toInt)
  }

  /** PARTITION-SCOPED compaction (Delta `OPTIMIZE t WHERE <partition preds>`):
    * rewrite ONLY the named partitions — their current content (deletion
    * vectors resolved and thus permanently dropped, optionally Z-ordered or
    * repartitioned) lands as ONE `replace` commit that shadows those
    * partitions in every earlier commit. The rest of the table is untouched:
    * cost is one partition-pruned scan + one slice-sized write, never the
    * table. This is the steady-state OPTIMIZE at 100 TB — a day-partitioned
    * corpus compacts yesterday's slice; full [[compact]] would rescan
    * everything.
    *
    * Content preservation is CAS-guarded: the slice is computed from a
    * specific head version, and the replace refuses to land over a DIFFERENT
    * head (a concurrent append into the slice would otherwise be silently
    * dropped) — the loop then recomputes from the new head, exactly
    * [[compact]]'s lost-race discipline. All scoped-overwrite preconditions
    * apply (uniform partition layout, representable values, every partition
    * column bound).
    */
  def compactPartitions(spark: SparkSession, location: String,
      partitions: Seq[Seq[(String, String)]], zorderBy: Seq[String] = Nil,
      numFiles: Int = 0, maxAttempts: Int = 3): Long = {
    require(partitions.nonEmpty, "compactPartitions needs at least one partition")
    var attempt = 0
    while (true) {
      val cs = commits(spark, location)
      require(cs.nonEmpty, s"no commits at $location")
      val head = cs.last.version
      val pred = partitions.map(_.map { case (k, v) => col(k) === lit(v) }
        .reduce(_ && _)).reduce(_ || _)
      val slice = readAsOf(spark, location, head).filter(pred)
      val clustered =
        if (zorderBy.nonEmpty)
          graft.ops.Layout.zorderBy(slice, zorderBy,
            if (numFiles > 0) numFiles
            else spark.sessionState.conf.numShufflePartitions)
        else if (numFiles > 0) slice.repartition(numFiles)
        else slice
      try return overwritePartitions(clustered, location, Some(partitions),
        maxAttempts = 1, expectedHead = Some(head))
      catch {
        case e @ (_: java.util.ConcurrentModificationException |
                  _: IllegalStateException) =>
          attempt += 1
          if (attempt >= maxAttempts) throw new IllegalStateException(
            s"scoped compaction of $location lost $maxAttempts snapshot " +
              "races — giving up", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** RESTORE parity (Delta `RESTORE TABLE ... TO VERSION AS OF`): roll the table
    * back to its state as of `version`, published as a NEW "restore" commit —
    * history stays append-only, so the rollback is itself versioned and
    * auditable, and time travel to the rolled-back versions keeps working until
    * [[vacuum]] reclaims them. Readers, the streaming source, and vacuum all
    * treat "restore" as a full-state reset (the same class as overwrite/compact).
    *
    * Copy-on-restore by design: a commit references exactly ONE data dir, so
    * sharing the historical dirs would let vacuum reclaim data a live commit
    * still needs. The rewrite costs one scan of the restored snapshot — bounded
    * by table size, not history length. Same lost-race rule as [[compact]]: the
    * restore only lands at the version it was computed against + 1; a concurrent
    * commit discards the staged copy and the restore re-reads a fresh snapshot.
    */
  def restore(spark: SparkSession, location: String, version: Long,
      maxAttempts: Int = 3): Long = {
    val fs = fileSystem(spark, location)
    var done = -1L
    var attempt = 0
    while (done < 0) {
      val csAll = commits(spark, location)
      val latest = csAll.last
      require(version <= latest.version,
        s"cannot restore $location to $version — newest is ${latest.version}")
      val snap = readAsOf(spark, location, version)
      // partitioning convention of the restored state = its NEWEST live commit
      // (same choice compact makes) — under a heterogeneous live set the head
      // (base) commit may predate the layout later appends established
      val partitioning = liveCommitsFrom(csAll, location, version)
        .last.partition_by.split(",").toSeq.filter(_.nonEmpty)
      // CURRENT constraints are enforced on the restored snapshot: restoring to
      // a version that predates addConstraint must not put rows live that the
      // table currently advertises as impossible. The check is fused into the
      // copy-on-restore scan, so it costs no extra pass.
      val (dataDir, rows, stats, sstats, nulls, schemaJson) =
        stageData(snap, location, partitioning, constraints(spark, location))
      if (claimCommit(fs, location, latest.version + 1, "restore", rows, dataDir,
          partitioning, stats, sstats = sstats, nulls = nulls,
          schemaJson = schemaJson))
        done = latest.version + 1
      else {
        fs.delete(new Path(s"$location/_data/$dataDir"), true)
        attempt += 1
        if (attempt >= maxAttempts) throw new IllegalStateException(
          s"restore of $location lost $maxAttempts snapshot races — giving up")
      }
    }
    maybeCheckpoint(spark, location, done)
    done
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE` parity): materialize
    * a NEW independent table at `target` that serves exactly the source's state
    * as of `version` (default: newest) — METADATA-ONLY, zero data copied. The
    * clone's log re-creates the source's live window with every data/DV dir
    * borrowed by absolute reference (`abs:` prefix), so at 100 TB a dev/test
    * sandbox over a production table costs O(live commits) driver-side log
    * writes and is ready in milliseconds.
    *
    * Independence semantics (Delta's): writes/merges/deletes on the clone touch
    * only the clone; the source never sees them. [[compact]] on the clone
    * rewrites its live set into clone-owned files, completing the copy lazily.
    * The clone's [[vacuum]] never reclaims borrowed dirs; the SOURCE's vacuum
    * can, breaking clones that still reference them — Delta's documented
    * shallow-clone caveat, mitigated the same way (retention windows longer
    * than clone lifetimes, or compact the clone to sever the dependency).
    *
    * Change feeds are not borrowed: the clone starts its own history (feed
    * consumers tail the SOURCE for pre-clone changes), and its cloned commits
    * carry fresh timestamps — the clone's history begins at clone time.
    *
    * The target must not already be a table. Cloned commits land version-by-
    * version via the same exclusive-create claims as every writer; the target
    * is complete when the call returns (a concurrent writer racing the build
    * fails the claim and aborts the clone loudly — a half-built clone serves a
    * consistent PREFIX of the source's live window, never a torn state).
    * Returns the clone's newest version.
    */
  def shallowClone(spark: SparkSession, source: String, target: String,
      version: Option[Long] = None): Long = {
    val fs = fileSystem(spark, target)
    require(!exists(spark, target),
      s"shallowClone target $target already has commits")
    val st = logState(spark, source)
    val cs = st.commits
    require(cs.nonEmpty, s"no commits at $source")
    val v = version.getOrElse(cs.last.version)
    requireReadableFrom(spark, source, st, v)
    val live = liveCommitsFrom(cs, source, v)
    def borrow(dir: String, resolved: String): String =
      if (dir.isEmpty) "" else if (isBorrowed(dir)) dir else AbsRef + resolved
    live.zipWithIndex.foreach { case (c, i) =>
      val cloned = c.copy(version = i, timestamp = Instant.now().toString,
        data_dir = borrow(c.data_dir, dataPath(source, c)),
        dv_dir = borrow(c.dv_dir, dvPath(source, c)),
        change_dir = "", txn_app = "", txn_id = -1L)
      val path = new Path(s"$target/_commit_log/$i.json")
      fs.mkdirs(path.getParent)
      if (!atomicCreate(fs, path,
          MetadataJson.encodeCommit(cloned).getBytes(StandardCharsets.UTF_8)))
        throw new IllegalStateException(
          s"shallowClone of $source lost the claim for version $i at $target — " +
            "a concurrent writer is building the same target")
    }
    // constraints, generated columns, the column mapping, AND the table spec
    // (added-column registry, declared partitioning, properties) advertised by
    // the source hold on the cloned snapshot (all were in force for every
    // landing batch) and keep holding for the clone's own writes
    val srcConstraints = constraints(spark, source)
    if (srcConstraints.nonEmpty)
      writeConstraints(spark, target, srcConstraints)
    val srcGenerated = generatedColumns(spark, source)
    if (srcGenerated.nonEmpty)
      writeKeyedJson(spark, target, GeneratedFile, srcGenerated)
    val srcMapping = columnMapping(spark, source)
    if (srcMapping.nonEmpty)
      writeKeyedJson(spark, target, ColumnsFile, srcMapping)
    val srcSpec = tableSpec(spark, source)
    if (srcSpec.nonEmpty) writeTableSpecRaw(spark, target, srcSpec)
    // clone versions RENUMBER (0..n-1), so the source's DDL history does not
    // transfer; the copied sidecars become the clone's from-the-beginning
    // baseline (raw writes above, one baseline archive here)
    ddlBaseline(spark, target)
    live.length - 1L
  }

  /** MERGE parity (Delta `whenMatchedUpdate` / `whenNotMatchedInsert` /
    * `whenMatchedDelete`, the upsert the reference's CDC tables rely on —
    * `mage-programs/orders_delta_lake.py:53` approximates it with
    * `overwriteSchema` full replacement): upsert `changes` into the current
    * snapshot on `keys`. A change row whose `deleteCol` (when given) is true
    * removes the matching row instead of replacing it; every other change row
    * replaces its match or is inserted when no match exists.
    *
    * `changes` must be key-unique (Delta's own MERGE errors on multiple matches;
    * here the caller pre-aggregates, e.g. latest-per-key compaction) and, minus
    * `deleteCol`, column-compatible with the table.
    *
    * Plan shape: ONE shuffle on `keys` serves both the left-anti (drop matched
    * rows) and the union'd upserts; the snapshot streams through the ordinary
    * multi-path parquet scan. Copy-on-write like Delta: the result lands as a
    * whole new "merge" commit at snapshotVersion + 1 (same conflict rule as
    * [[compact]] — a lost claim discards the staged rewrite and re-merges from a
    * fresh snapshot, never silently dropping a concurrent commit).
    *
    * PARTITION-SCOPED rewrite (how the cost stays bounded at 100 TB, the same
    * way Delta's merge prunes to matched files): when the table is
    * hive-partitioned, every partition column is part of `keys` (so a key can
    * never move between partitions and matching is exact), and the change set
    * touches a bounded, cleanly-representable set of partition values, the
    * merge rewrites ONLY the touched partitions — the commit records them in
    * `replace_where`, untouched partitions' files are carried by reference
    * (byte-identical, same paths), and readers shadow the touched partitions
    * out of earlier commits. Cost then tracks the touched slice, not the
    * table. Any precondition failing falls back to the full-snapshot rewrite,
    * which is always correct.
    */
  def merge(spark: SparkSession, location: String, changes: DataFrame,
      keys: Seq[String], deleteCol: Option[String] = None,
      maxAttempts: Int = 3, changeFeed: Boolean = false): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val fs = fileSystem(spark, location)
    // change rows may omit declared generated columns (Delta's merge contract);
    // compute them here so the staged select and the feed structs line up
    val changes1 =
      applyGenerated(changes, generatedColumns(spark, location))._1
    val upserts = deleteCol match {
      case Some(d) => changes1.filter(!coalesce(col(d), lit(false))).drop(d)
      case None => changes1
    }
    // CHECK constraints ride the staged write of the merged snapshot (fused,
    // zero extra jobs): only rows that LAND are checked — delete markers never
    // reach the staged data, and surviving pre-merge rows pass by the
    // addConstraint invariant
    val checks = constraints(spark, location)
    // deletes participate in the anti-join (their keys drop the match) but
    // contribute no replacement row
    val changedKeys = deleteCol.fold(changes1)(d => changes1.drop(d))
      .select(keys.map(col): _*).dropDuplicates(keys)
    var done = -1L
    var attempt = 0
    while (done < 0) {
      val cs = commits(spark, location)
      require(cs.nonEmpty, s"no commits at $location — write a base version first")
      val latest = cs.last
      val partitioning = latest.partition_by.split(",").toSeq.filter(_.nonEmpty)
      val scope = mergeScope(spark, location, cs, latest, changes1,
        partitioning, keys)
      val current = {
        // head-state assembly from the ALREADY-LISTED log (a head read cannot
        // be below the vacuum floor, so the floor probe is skipped too)
        val snap = assemble(spark, location,
          liveCommitsFrom(cs, location, latest.version), latest.version)
        scope.fold(snap) { case (pred, _, _) => snap.filter(pred) }
      }
      // replaced_rows observed on the touched slice as it streams through the
      // staged rewrite — no extra job; full rewrites replace the whole prior
      // state, whose size the log already knows, so they skip the observation
      val obs = scope.map(_ => Observation(
        s"vt_replaced_${java.util.UUID.randomUUID()}"))
      val observed = obs.fold(current)(o =>
        current.observe(o, count(lit(1)).as("rows")))
      val staged =
        if (changeFeed) stageMergeWithFeed(observed, changes1, keys, deleteCol,
          location, partitioning, checks)
        else {
          val merged = observed.join(changedKeys, keys, "left_anti")
            .unionByName(upserts.select(observed.columns.map(col): _*))
          val (d, r, st, ss, nu, sj) = stageData(merged, location, partitioning, checks)
          (d, r, st, ss, nu, sj, "")
        }
      val (dataDir, rows, stats, sstats, nulls, schemaJson, changeDir) = staged
      val replaceWhere = scope.map(_._2).getOrElse("")
      val replacedRows = scope.map(_ => obs.get.get("rows").asInstanceOf[Long])
        .getOrElse(0L)
      if (claimCommit(fs, location, latest.version + 1, "merge", rows, dataDir,
          partitioning, stats, changeDir = changeDir, replaceWhere = replaceWhere,
          replacedRows = replacedRows, sstats = sstats, nulls = nulls,
          schemaJson = schemaJson))
        done = latest.version + 1
      else {
        fs.delete(new Path(s"$location/_data/$dataDir"), true)
        if (changeDir.nonEmpty)
          fs.delete(new Path(s"$location/_data/$changeDir"), true)
        attempt += 1
        if (attempt >= maxAttempts) throw new IllegalStateException(
          s"merge into $location lost $maxAttempts snapshot races — giving up")
      }
    }
    maybeCheckpoint(spark, location, done)
    done
  }

  /** MERGE-ON-READ merge: the same upsert/delete semantics as [[merge]], but
    * matched rows are DELETION-VECTORED out and the change rows land as the
    * commit's own files — NO pre-existing file is rewritten, so the write cost
    * tracks the CHANGE volume (one snapshot semi-join to locate matches + one
    * change-sized staged write), not the snapshot or even the touched
    * partitions. The read-side tax is the DV anti-join until the next
    * [[compact]]. This is the CDC-apply path at 100 TB: continuously upserting
    * a 0.01% change stream into a huge table with copy-on-write rewrites the
    * touched slice every batch; merge-on-read writes megabytes.
    *
    * Commits as an "update"-class commit (DV + own data): readers, streaming,
    * fastCount, vacuum, and restore treat it exactly like [[updateWhere]].
    * `changes` must be key-unique (the [[merge]] contract); CHECK constraints
    * are enforced on the landing change rows; `changeFeed = true` materializes
    * the same insert / delete / update_preimage / update_postimage vocabulary
    * as [[merge]] (delete markers for missing keys emit nothing).
    */
  def mergeOnRead(spark: SparkSession, location: String, changes: DataFrame,
      keys: Seq[String], deleteCol: Option[String] = None,
      maxAttempts: Int = 3, changeFeed: Boolean = false): Long =
    mergeOnReadTxn(spark, location, changes, keys, deleteCol, maxAttempts,
      changeFeed, txn = None).get._1

  /** The matched-row split a DML-metrics surface needs, measured INSIDE the
    * merge from its already-persisted matched set — `updated`/`deleted` are
    * matched TARGET rows by the change's delete flag (a duplicate-key target
    * legitimately counts both rows), `matchedUpsertKeys` the matched CHANGE
    * rows (change sets are key-unique, so matched non-delete keys = matched
    * change rows), and `addedRows` the commit's staged row count — so callers
    * derive inserts EXACTLY as `addedRows - matchedUpsertKeys` (deriving from
    * `updated` undercounts whenever the target holds duplicate keys). Asking
    * for it costs ONE change-volume-sized aggregation over pinned data —
    * never a second scan of the target, which is what a caller computing the
    * split itself would pay (and at 100 TB, what dominates).
    */
  final case class MergeOnReadMetrics(updated: Long, deleted: Long,
      addedRows: Long, matchedUpsertKeys: Long)

  /** [[mergeOnRead]] that also returns [[MergeOnReadMetrics]] — the SQL MERGE
    * fast path's metrics source (DmlMetricsSpec pins the job parity).
    */
  private[graft] def mergeOnReadMetered(spark: SparkSession, location: String,
      changes: DataFrame, keys: Seq[String], deleteCol: Option[String] = None,
      maxAttempts: Int = 3, changeFeed: Boolean = false)
      : (Long, MergeOnReadMetrics) = {
    val (v, m) = mergeOnReadTxn(spark, location, changes, keys, deleteCol,
      maxAttempts, changeFeed, txn = None, wantMetrics = true).get
    (v, m.get)
  }

  /** Exactly-once [[mergeOnRead]] for streaming CDC-apply sinks: a commit
    * already tagged `(txnApp, txnId)` makes the call a no-op (None), exactly
    * [[idempotentAppend]]'s replay contract — a micro-batch whose merge
    * committed but whose offset write was lost to a crash re-applies NOTHING
    * on restart, instead of DV-ing and re-appending its change rows a second
    * time (double change-feed entries, double commit history). The identity is
    * re-checked inside the claim-retry loop, so losing a race to the replay
    * TWIN (two attempts of the same batch racing) also dedupes.
    */
  def idempotentMergeOnRead(spark: SparkSession, location: String,
      changes: DataFrame, keys: Seq[String], deleteCol: Option[String] = None,
      txnApp: String, txnId: Long, maxAttempts: Int = 3,
      changeFeed: Boolean = false): Option[Long] = {
    require(txnApp.nonEmpty, "idempotentMergeOnRead needs a txnApp identity")
    mergeOnReadTxn(spark, location, changes, keys, deleteCol, maxAttempts,
      changeFeed, txn = Some((txnApp, txnId))).map(_._1)
  }

  private def mergeOnReadTxn(spark: SparkSession, location: String,
      changes: DataFrame, keys: Seq[String], deleteCol: Option[String],
      maxAttempts: Int, changeFeed: Boolean,
      txn: Option[(String, Long)], wantMetrics: Boolean = false)
      : Option[(Long, Option[MergeOnReadMetrics])] = {
    require(keys.nonEmpty, "mergeOnRead needs at least one key column")
    val fs = fileSystem(spark, location)
    // same generated-column computation contract as [[merge]]
    val changes1 =
      applyGenerated(changes, generatedColumns(spark, location))._1
    val tagged = deleteCol match {
      case Some(d) => changes1
        .withColumn("_g_del", coalesce(col(d).cast("boolean"), lit(false))).drop(d)
      case None => changes1.withColumn("_g_del", lit(false))
    }
    val changedKeys = tagged.select(keys.map(col): _*).dropDuplicates(keys)
    var done = -1L
    var attempt = 0
    var metrics: Option[MergeOnReadMetrics] = None
    while (done < 0) {
      val cs = commits(spark, location)
      require(cs.nonEmpty, s"no commits at $location — write a base version first")
      // replay dedupe, re-checked per attempt (closes the replay-twin race)
      txn.foreach { case (app, id) =>
        if (cs.exists(c => c.txn_app == app && c.txn_id == id)) return None
      }
      val latest = cs.last
      val partitioning = latest.partition_by.split(",").toSeq.filter(_.nonEmpty)
      val snap = snapshotWithMetaFrom(spark, location, cs, latest.version)
      val dataCols = snap.columns.filterNot(c => c == DvFileCol || c == DvPosCol).toSeq
      // ONE semi-join locates every matched row (preimage + DV identity); the
      // change set streams against the DV-resolved snapshot scan
      val matched = snap.join(changedKeys, keys, "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val upserts = tagged.filter(!col("_g_del"))
          .select(dataCols.map(col): _*)
        val (dataDir, rows, stats, sstats, nulls, schemaJson) = stageData(
          upserts, location, partitioning, constraints(spark, location))
        val dvDir = s"v-${java.util.UUID.randomUUID()}"
        val obs = Observation(s"vt_dv_$dvDir")
        StagedWrite.parquet(
          matched.select(col(DvFileCol).as("file"), col(DvPosCol).as("pos"))
            .observe(obs, count(lit(1)).as("rows")), s"$location/_data/$dvDir")
        val changeDir = if (changeFeed) s"c-${java.util.UUID.randomUUID()}" else ""
        if (changeFeed) {
          // classification joins run on CHANGE-bounded inputs (matched is
          // pinned): matched+delete → delete, matched+upsert → pre/post
          // images, unmatched upsert → insert, unmatched delete → nothing
          val pre = matched.drop(DvFileCol, DvPosCol)
          val flags = tagged.select(keys.map(col) :+ col("_g_del"): _*)
          val preTyped = pre.join(flags, keys, "inner")
            .withColumn("_change_type",
              when(col("_g_del"), "delete").otherwise("update_preimage"))
            .drop("_g_del")
          val matchedKeys = pre.select(keys.map(col): _*)
          val post = tagged.filter(!col("_g_del")).select(dataCols.map(col): _*)
            .join(matchedKeys, keys, "left_semi")
            .withColumn("_change_type", lit("update_postimage"))
          val ins = tagged.filter(!col("_g_del")).select(dataCols.map(col): _*)
            .join(matchedKeys, keys, "left_anti")
            .withColumn("_change_type", lit("insert"))
          StagedWrite.parquet(preTyped.unionByName(post).unionByName(ins),
            s"$location/_data/$changeDir")
        }
        val matchedRows = obs.get("rows").asInstanceOf[Long]
        if (claimCommit(fs, location, latest.version + 1, "update", rows, dataDir,
            partitioning, stats, txnApp = txn.map(_._1).getOrElse(""),
            txnId = txn.map(_._2).getOrElse(-1L), changeDir = changeDir,
            replacedRows = matchedRows, dvDir = dvDir, sstats = sstats,
            nulls = nulls, schemaJson = schemaJson)) {
          done = latest.version + 1
          if (wantMetrics) {
            // the matched/deleted split, from the PINNED matched set joined to
            // the change set's delete flags — change-volume cost, zero target
            // rescans (the whole point of metering inside the merge)
            val flags = tagged.select(keys.map(col) :+ col("_g_del"): _*)
              .dropDuplicates(keys)
            val r = matched.join(flags, keys, "inner").agg(
              sum(when(!col("_g_del"), 1L).otherwise(0L)).as("u"),
              sum(when(col("_g_del"), 1L).otherwise(0L)).as("d"),
              // matched CHANGE rows: distinct matched keys with an upsert
              // flag (keys are change-unique) — the exact insert complement
              countDistinct(when(!col("_g_del"),
                struct(keys.map(col): _*))).as("uk")).head()
            def at(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
            metrics = Some(MergeOnReadMetrics(at(0), at(1), rows, at(2)))
          }
        } else {
          fs.delete(new Path(s"$location/_data/$dataDir"), true)
          fs.delete(new Path(s"$location/_data/$dvDir"), true)
          if (changeDir.nonEmpty)
            fs.delete(new Path(s"$location/_data/$changeDir"), true)
          attempt += 1
          if (attempt >= maxAttempts) throw new IllegalStateException(
            s"mergeOnRead into $location lost $maxAttempts snapshot races — giving up")
        }
      } finally matched.unpersist()
    }
    maybeCheckpoint(spark, location, done)
    Some((done, metrics))
  }

  /** At most this many touched partitions take the scoped path: the touched set
    * is collected driver-side (it becomes the commit's `replace_where` and the
    * snapshot filter), so it must stay metadata-sized. A change set touching
    * more partitions than this rewrites the full snapshot instead.
    */
  val MaxScopedPartitions = 1024

  /** Partition values the scoped path can represent in `replace_where` (whose
    * `;`, `/` and `=` are its own syntax) and re-derive as an equality filter
    * (hive dir names round-trip these exactly).
    */
  private val SafePartitionValue = "[A-Za-z0-9_.:+ -]+".r

  /** Decide whether this merge can be partition-scoped; when yes, returns
    * (touched-partition predicate, replace_where spec, touched count).
    * Preconditions (any failing → None → full-snapshot rewrite):
    * every live commit shares the table's partition layout (heterogeneous live
    * sets can't be filtered uniformly), partition columns ⊆ keys (a key then
    * determines its partition, so matching inside the slice is exact), and the
    * touched values are bounded, non-null, and log-representable.
    */
  /** Dynamic partition overwrite (Delta/Hive `partitionOverwriteMode=dynamic`,
    * the INSERT OVERWRITE semantics every warehouse job wants on a partitioned
    * table): atomically replace EXACTLY the partitions present in `df` — rows in
    * other partitions are untouched, carried by reference with zero rewrite, so
    * the write cost tracks `df` plus one partition-pruned count of the replaced
    * slice (for metadata-only `fastCount`), never the table. The commit records
    * the touched set in `replace_where` (operation `"replace"`), and readers
    * shadow those partitions out of earlier commits exactly as partition-scoped
    * merges do.
    *
    * Preconditions fail LOUDLY — unlike [[merge]]'s scope there is no safe
    * fallback here: a full overwrite would silently delete the untouched
    * partitions, an append would duplicate the touched ones. Required: the
    * table is hive-partitioned with a consistent live layout
    * (zero-row commits exempt), `df` touches at most [[MaxScopedPartitions]]
    * partitions, and every touched value round-trips as a directory name.
    * `replacedValues` (when given — the static `INSERT OVERWRITE ... PARTITION`
    * path) REPLACES the data-derived touched set: each tuple must bind every
    * partition column, and every `df` row must land inside the set (enforced
    * inside the staged write via the fused check guard, Delta's `replaceWhere`
    * contract) — an empty `df` then CLEARS those partitions.
    */
  def overwritePartitions(df: DataFrame, location: String,
      replacedValues: Option[Seq[Seq[(String, String)]]] = None,
      maxAttempts: Int = 3, expectedHead: Option[Long] = None): Long = {
    val spark = df.sparkSession
    val fs = fileSystem(spark, location)
    var done = -1L
    var attempt = 0
    while (done < 0) {
      val cs = commits(spark, location)
      require(cs.nonEmpty, s"no commits at $location — write a base version first")
      val latest = cs.last
      // CAS for content-derived callers ([[compactPartitions]]): the batch was
      // computed FROM a specific head — landing it over a different head would
      // silently drop whatever the interleaving commit wrote into the slice
      expectedHead.filter(_ != latest.version).foreach(ev =>
        throw new java.util.ConcurrentModificationException(
          s"scoped overwrite of $location expected head $ev but found " +
            s"${latest.version} — recompute the replacement content and retry"))
      val live = liveCommitsFrom(cs, location, latest.version)
      // the layout is the newest live commit that RECORDS one — pure-DV commits
      // (delete) record none, and the SQL catalog's empty v0 is written flat
      // with the declared layout in the spec sidecar
      val fromCommit = live.reverse.collectFirst {
        case c if c.partition_by.nonEmpty =>
          c.partition_by.split(",").toSeq.filter(_.nonEmpty)
      }.getOrElse(Nil)
      val partitioning =
        if (fromCommit.nonEmpty) fromCommit
        else tableSpec(spark, location).get("partition_by")
          .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
      require(partitioning.nonEmpty,
        s"$location is not partitioned — dynamic partition overwrite needs a " +
          "hive-partitioned table (use a plain overwrite instead)")
      require(live.forall(c => c.row_count == 0 ||
          c.partition_by == partitioning.mkString(",")),
        s"$location has mixed live partition layouts — compact first")
      enforceAppendSchema(spark, location, df, partitioning)
      val values = replacedValues.getOrElse {
        val touched = df.select(partitioning.map(col): _*).distinct()
          .limit(MaxScopedPartitions + 1).collect()
        require(touched.length <= MaxScopedPartitions,
          s"dynamic overwrite touches more than $MaxScopedPartitions partitions " +
            s"of $location — use a full overwrite")
        touched.toSeq.map(row => partitioning.zipWithIndex.map { case (k, i) =>
          require(!row.isNullAt(i),
            s"dynamic overwrite of $location: null value for partition column $k")
          k -> String.valueOf(row.get(i))
        })
      }
      require(values.forall(_.map(_._1) == partitioning),
        s"replaced partitions must bind every partition column of $location in " +
          s"order (${partitioning.mkString(",")}); got " +
          values.map(_.map(_._1).mkString(",")).distinct.mkString(" | "))
      values.flatMap(_.map(_._2)).foreach(v =>
        require(SafePartitionValue.matches(v),
          s"partition value '$v' does not round-trip as a directory name — " +
            "a scoped overwrite would corrupt the shadow predicate"))
      val spec = values.map(_.map { case (k, v) => s"$k=$v" }.mkString("/"))
        .sorted.mkString(";")
      val pred = values.map(_.map { case (k, v) => col(k) === lit(v) }
        .reduce(_ && _)).reduceOption(_ || _).getOrElse(lit(false))
      // an explicit replaced set must CONTAIN the data (Delta replaceWhere rule);
      // the check rides the staged write's fused guard — zero extra jobs
      val boundsCheck = replacedValues.map { vs =>
        val sql = vs.map(_.map { case (k, v) =>
            s"`$k` = ${org.apache.spark.sql.catalyst.expressions.Literal(v).sql}" }
          .mkString("(", " AND ", ")")).mkString("(", " OR ", ")")
        Map("replace_where_bounds" -> sql)
      }.getOrElse(Map.empty)
      // the retired row count, observed from a partition-pruned scan of the
      // replaced slice only — fastCount stays exact and metadata-only
      val replaced = readAsOf(spark, location, latest.version).filter(pred).count()
      val (dataDir0, rows, stats, sstats, nulls, schemaJson) = stageData(df,
        location, partitioning, constraints(spark, location) ++ boundsCheck)
      // a zero-row batch (explicit set clearing partitions) lays out NO files —
      // commit with an empty data dir, the pure-delete convention, so readers
      // never point a parquet scan at a file-less directory
      val dataDir = if (rows == 0L) {
        fs.delete(new Path(s"$location/_data/$dataDir0"), true)
        ""
      } else dataDir0
      if (claimCommit(fs, location, latest.version + 1, "replace", rows, dataDir,
          partitioning, stats, replaceWhere = spec, replacedRows = replaced,
          sstats = sstats, nulls = nulls, schemaJson = schemaJson))
        done = latest.version + 1
      else {
        // dataDir0, not dataDir: the zero-row case already blanked dataDir and
        // deleted its dir ("" would resolve to _data/ itself)
        fs.delete(new Path(s"$location/_data/$dataDir0"), true)
        attempt += 1
        if (attempt >= maxAttempts) throw new IllegalStateException(
          s"dynamic overwrite of $location lost $maxAttempts snapshot races — giving up")
      }
    }
    maybeCheckpoint(spark, location, done)
    done
  }

  private def mergeScope(spark: SparkSession, location: String,
      cs: Seq[Commit], latest: Commit,
      changes: DataFrame, partitioning: Seq[String], keys: Seq[String])
      : Option[(org.apache.spark.sql.Column, String, Int)] = {
    if (partitioning.isEmpty) return None
    if (!partitioning.forall(keys.contains)) return None
    val live = liveCommitsFrom(cs, location, latest.version)
    if (!live.forall(_.partition_by == latest.partition_by)) return None
    val touched = changes.select(partitioning.map(col): _*).distinct()
      .limit(MaxScopedPartitions + 1).collect()
    if (touched.length > MaxScopedPartitions) return None
    val values = touched.map(row => partitioning.indices.map { i =>
      if (row.isNullAt(i)) return None // null partitions: hive-default dirs don't round-trip
      String.valueOf(row.get(i))
    })
    if (!values.forall(_.forall(SafePartitionValue.matches))) return None
    val spec = values.map(vs => partitioning.zip(vs)
      .map { case (k, v) => s"$k=$v" }.mkString("/")).sorted.mkString(";")
    val pred = values.map(vs => partitioning.zip(vs)
        .map { case (k, v) => col(k) === lit(v) }.reduce(_ && _))
      .reduce(_ || _)
    Some((pred, spec, values.length))
  }

  /** Merge + Change-Data-Feed capture (Delta CDF parity), both derived from ONE
    * full-outer join of the snapshot with the change set:
    *
    *  - no change row for a key        → snapshot row kept, no feed row
    *  - change row, no snapshot row    → `insert` (delete of a missing key is a no-op)
    *  - change row replaces a match    → `update_preimage` (old) + `update_postimage` (new)
    *  - delete row hits a match        → `delete` (old values)
    *
    * The joined result is pinned (MEMORY_AND_DISK) so the new snapshot and the feed
    * are two cheap scans of one shuffle, not two snapshot joins — the same reason
    * Delta's merge writes data and CDC files from a single pass. The feed lands in a
    * writer-unique `_data/c-<uuid>` dir recorded in the commit; [[readChanges]]
    * resolves it from the log, and [[vacuum]] reclaims it with the commit's data.
    */
  private def stageMergeWithFeed(current: DataFrame, changes: DataFrame,
      keys: Seq[String], deleteCol: Option[String], location: String,
      partitionBy: Seq[String], checks: Map[String, String] = Map.empty)
      : (String, Long, Map[String, (Double, Double)],
         Map[String, (String, String)], Map[String, Long], String, String) = {
    val cols = current.columns.toSeq
    val tagged = deleteCol match {
      case Some(d) => changes
        .withColumn("_g_del", coalesce(col(d).cast("boolean"), lit(false)))
      case None => changes.withColumn("_g_del", lit(false))
    }
    val cSide = current.select(
      keys.map(col) :+ struct(cols.map(col): _*).as("_c"): _*)
    val gSide = tagged.select(
      keys.map(col) ++ Seq(struct(cols.map(col): _*).as("_g"), col("_g_del")): _*)
    val joined = cSide.join(gSide, keys, "full_outer")
    val isUpdate = col("_c").isNotNull && col("_g").isNotNull && !col("_g_del")
    // each branch yields (row, change type); nulls (non-matching branches) are
    // filtered before the explode, so every output row is exactly one tagged case
    val entries = array(
      when(col("_g").isNull,
        struct(col("_c").as("r"), lit("unchanged").as("_change_type"))),
      when(col("_c").isNull && col("_g").isNotNull && !col("_g_del"),
        struct(col("_g").as("r"), lit("insert").as("_change_type"))),
      when(col("_c").isNotNull && col("_g").isNotNull && col("_g_del"),
        struct(col("_c").as("r"), lit("delete").as("_change_type"))),
      when(isUpdate,
        struct(col("_c").as("r"), lit("update_preimage").as("_change_type"))),
      when(isUpdate,
        struct(col("_g").as("r"), lit("update_postimage").as("_change_type"))))
    val cases = joined
      .select(explode(filter(entries, e => e.isNotNull)).as("e"))
      .select("e.r.*", "e._change_type")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val merged = cases
        .filter(col("_change_type").isin("unchanged", "insert", "update_postimage"))
        .select(cols.map(col): _*)
      val (dataDir, rows, stats, sstats, nulls, schemaJson) =
        stageData(merged, location, partitionBy, checks)
      val feed = cases.filter(col("_change_type") =!= "unchanged")
      val changeDir = s"c-${java.util.UUID.randomUUID()}"
      StagedWrite.parquet(feed, s"$location/_data/$changeDir")
      (dataDir, rows, stats, sstats, nulls, schemaJson, changeDir)
    } finally cases.unpersist()
  }

  /** DELETE ... WHERE with DELETION VECTORS (Delta merge-on-read parity): remove
    * every current row matching `condition` (a SQL boolean expression) WITHOUT
    * rewriting a single data file. The commit records only a parquet of
    * (file, row-index) entries for the matched rows; readers subtract them with
    * one anti-join ([[applyDvs]]). This is the 100 TB path for small deletes —
    * GDPR erasure, bad-batch retraction, dedup-kill lists — where copy-on-write
    * would rewrite terabytes to drop a few thousand rows: the write cost is one
    * filtered scan of the snapshot (with full predicate/partition pushdown) plus
    * a DV-sized output, and the steady-state read cost is one anti-join against
    * the live DV total, reclaimed at the next [[compact]] (which materializes
    * deletions away, exactly Delta's OPTIMIZE-after-DV contract).
    *
    * SQL DELETE semantics: rows where `condition` is NULL are NOT deleted.
    * Matched rows are counted into the commit's `replaced_rows` ([[fastCount]]
    * subtracts metadata-only); `changeFeed = true` additionally materializes the
    * deleted rows for [[readChanges]] — without it the feed is RECONSTRUCTED
    * from the DV on demand (one semi-join against the pre-delete snapshot).
    * Zero matches still commits (a versioned no-op, as Delta does). Constraints
    * are not consulted: removing rows cannot violate a CHECK.
    *
    * Returns the committed version. Same lost-race rule as [[merge]]: the DV is
    * only valid against the snapshot it was computed from, so a concurrent
    * commit discards it and the delete recomputes.
    */
  def deleteWhere(spark: SparkSession, location: String, condition: String,
      changeFeed: Boolean = false, maxAttempts: Int = 3): Long = {
    val fs = fileSystem(spark, location)
    var done = -1L
    var attempt = 0
    while (done < 0) {
      val cs = commits(spark, location)
      require(cs.nonEmpty, s"no commits at $location — write a base version first")
      val latest = cs.last
      val snap = snapshotWithMetaFrom(spark, location, cs, latest.version)
      val matched = snap.filter(expr(condition))
      val dvDir = s"v-${java.util.UUID.randomUUID()}"
      val changeDir = if (changeFeed) s"c-${java.util.UUID.randomUUID()}" else ""
      val obs = Observation(s"vt_dv_$dvDir")
      val dvRows = matched
        .select(col(DvFileCol).as("file"), col(DvPosCol).as("pos"))
        .observe(obs, count(lit(1)).as("rows"))
      val pinned =
        if (changeFeed)
          Some(matched.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        else None
      try {
        pinned.foreach { m =>
          StagedWrite.parquet(
            m.drop(DvFileCol, DvPosCol).withColumn("_change_type", lit("delete")),
            s"$location/_data/$changeDir")
        }
        StagedWrite.parquet(dvRows, s"$location/_data/$dvDir")
      } finally pinned.foreach(_.unpersist())
      val deleted = obs.get("rows").asInstanceOf[Long]
      if (claimCommit(fs, location, latest.version + 1, "delete", 0L, "",
          Nil, changeDir = changeDir, replacedRows = deleted, dvDir = dvDir))
        done = latest.version + 1
      else {
        fs.delete(new Path(s"$location/_data/$dvDir"), true)
        if (changeDir.nonEmpty)
          fs.delete(new Path(s"$location/_data/$changeDir"), true)
        attempt += 1
        if (attempt >= maxAttempts) throw new IllegalStateException(
          s"delete at $location lost $maxAttempts snapshot races — giving up")
      }
    }
    maybeCheckpoint(spark, location, done)
    done
  }

  /** UPDATE ... SET ... WHERE, merge-on-read: matched rows are deletion-vectored
    * out ([[deleteWhere]] mechanics) and their updated images land as the
    * commit's own data files — cost tracks the MATCHED rows, not the table.
    * `assignments` maps column name → SQL expression evaluated against the old
    * row (so `"n" -> "n + 1"` increments); assigned expressions are cast back to
    * the column's existing type, keeping the table schema stable under
    * mergeSchema reads. CHECK constraints are enforced on the updated rows
    * (fused into their staged write); `changeFeed = true` materializes
    * `update_preimage` / `update_postimage` rows for [[readChanges]].
    */
  def updateWhere(spark: SparkSession, location: String, condition: String,
      assignments: Map[String, String], changeFeed: Boolean = false,
      maxAttempts: Int = 3): Long = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    val fs = fileSystem(spark, location)
    var done = -1L
    var attempt = 0
    while (done < 0) {
      val cs = commits(spark, location)
      require(cs.nonEmpty, s"no commits at $location — write a base version first")
      val latest = cs.last
      val partitioning = latest.partition_by.split(",").toSeq.filter(_.nonEmpty)
      val snap = snapshotWithMetaFrom(spark, location, cs, latest.version)
      val dataCols = snap.schema.fields
        .filter(f => f.name != DvFileCol && f.name != DvPosCol)
      val byName = dataCols.map(f => f.name -> f.dataType).toMap
      assignments.keys.foreach(k => require(byName.contains(k),
        s"updateWhere assigns unknown column '$k' (table has " +
          s"${dataCols.map(_.name).mkString(", ")})"))
      val matched = snap.filter(expr(condition))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val updated0 = matched.select(dataCols.map { f =>
          assignments.get(f.name)
            .map(e => expr(e).cast(f.dataType).as(f.name))
            .getOrElse(col(f.name))
        }.toSeq: _*)
        // generated columns the caller did NOT assign must track their source
        // columns through the update: drop them so the staged write recomputes
        val gen = generatedColumns(spark, location)
        val updated = gen.keys.filterNot(assignments.contains)
          .foldLeft(updated0)((d, g) => d.drop(g))
        val (dataDir, rows, stats, sstats, nulls, schemaJson) = stageData(
          updated, location, partitioning, constraints(spark, location))
        val dvDir = s"v-${java.util.UUID.randomUUID()}"
        val obs = Observation(s"vt_dv_$dvDir")
        StagedWrite.parquet(
          matched.select(col(DvFileCol).as("file"), col(DvPosCol).as("pos"))
            .observe(obs, count(lit(1)).as("rows")), s"$location/_data/$dvDir")
        val changeDir = if (changeFeed) s"c-${java.util.UUID.randomUUID()}" else ""
        if (changeFeed) {
          val pre = matched.drop(DvFileCol, DvPosCol)
            .withColumn("_change_type", lit("update_preimage"))
          // postimages carry the recomputed generated values the staged data has
          val post = applyGenerated(updated, gen)._1
            .withColumn("_change_type", lit("update_postimage"))
          StagedWrite.parquet(pre.unionByName(post), s"$location/_data/$changeDir")
        }
        val updatedRows = obs.get("rows").asInstanceOf[Long]
        if (claimCommit(fs, location, latest.version + 1, "update", rows, dataDir,
            partitioning, stats, changeDir = changeDir,
            replacedRows = updatedRows, dvDir = dvDir, sstats = sstats,
            nulls = nulls, schemaJson = schemaJson))
          done = latest.version + 1
        else {
          fs.delete(new Path(s"$location/_data/$dataDir"), true)
          fs.delete(new Path(s"$location/_data/$dvDir"), true)
          if (changeDir.nonEmpty)
            fs.delete(new Path(s"$location/_data/$changeDir"), true)
          attempt += 1
          if (attempt >= maxAttempts) throw new IllegalStateException(
            s"update at $location lost $maxAttempts snapshot races — giving up")
        }
      } finally matched.unpersist()
    }
    maybeCheckpoint(spark, location, done)
    done
  }

  /** Change Data Feed (Delta `table_changes` parity): every row-level change the
    * commits in `[fromVersion, toVersion]` made, as table columns plus
    * `_change_type` (`insert` / `delete` / `update_preimage` / `update_postimage`),
    * `_commit_version`, and `_commit_timestamp` — the incremental-consumption
    * surface that lets a downstream pipeline process ONLY what changed instead of
    * diffing 100 TB snapshots.
    *
    * Per commit, resolved from the log (metadata-only; no snapshot diffing):
    *  - `append` — its own data dir, served as `insert` rows (no extra copy ever
    *    written: the data files ARE the change files, as in Delta's CDF fast path);
    *  - `merge` written with `changeFeed = true` — its materialized `c-*` dir;
    *    a merge without it fails the read (its row changes were never captured);
    *  - `compact` — skipped: a logical no-op that changes no rows;
    *  - `overwrite` — a reset, not a row-level change; fails unless
    *    `allowFullRewrites = true`, which serves the new content as `insert`
    *    (the caller opted into reset semantics, mirroring the streaming
    *    `ignoreChanges` contract).
    */
  def readChanges(spark: SparkSession, location: String, fromVersion: Long,
      toVersion: Long, allowFullRewrites: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val st = logState(spark, location)
    requireReadableFrom(spark, location, st, fromVersion)
    val cs = st.commits
    require(cs.exists(_.version == fromVersion) && cs.exists(_.version == toVersion),
      s"versions [$fromVersion, $toVersion] not all present at $location " +
        s"(have ${cs.map(_.version)})")
    val stamp = (df: DataFrame, c: Commit) => df
      .withColumn("_commit_version", lit(c.version))
      .withColumn("_commit_timestamp", to_timestamp(lit(c.timestamp)))
    // data files carry PHYSICAL column names; the feed surfaces logical ones.
    // Materialized change dirs were written logically at capture time already.
    val mapping = columnMapping(spark, location)
    // single-commit data reads take the commit's recorded schema (no footer
    // inference); change dirs keep inference — their schema adds CDF columns
    def readData(c: Commit): DataFrame =
      scanCommits(spark, Seq(c), keepMeta = false, perCommit = false,
        logReadSchema)(c => LogFileIndex.dir(spark, dataPath(location, c)))
    val parts = cs.filter(c => c.version >= fromVersion && c.version <= toVersion)
      .flatMap { c =>
        c.operation match {
          case "append" =>
            Some(stamp(toLogical(readData(c), mapping)
              .withColumn("_change_type", lit("insert")), c))
          case "merge" | "delete" | "update" if c.change_dir.nonEmpty =>
            Some(stamp(
              LogFileIndex.scanDir(spark, s"$location/_data/${c.change_dir}"), c))
          case "delete" =>
            // a DV delete without a materialized feed is still fully resolvable:
            // the deleted rows ARE the pre-delete snapshot's rows at the DV's
            // (file, pos) entries — one semi-join reconstructs them on demand.
            // Costs a scan of that snapshot (vs. the log-resolved feed), but
            // never wrong; requires the pre-delete version to not be vacuumed.
            requireReadableFrom(spark, location, st, c.version - 1)
            val pre = snapshotWithMetaFrom(spark, location, cs, c.version - 1)
            val dv = LogFileIndex.scanDir(spark, dvPath(location, c),
              schema = Some(DvSchema))
            val hinted =
              if (c.replaced_rows <= DvBroadcastMaxRows) broadcast(dv) else dv
            Some(stamp(pre.join(hinted,
                pre(DvFileCol) === hinted("file") && pre(DvPosCol) === hinted("pos"),
                "left_semi")
              .drop(DvFileCol, DvPosCol)
              .withColumn("_change_type", lit("delete")), c))
          case "compact" => None
          case "replace" if c.data_dir.isEmpty =>
            // a clearing scoped overwrite (empty batch over an explicit
            // partition set): pure retraction, nothing to serve as inserts —
            // but only under reset semantics, like every other rewrite
            if (allowFullRewrites) None
            else throw new IllegalStateException(
              s"version ${c.version} at $location is a partition-clearing " +
                "replace whose row changes were not captured — pass " +
                "allowFullRewrites = true to skip it (reset semantics)")
          case _ =>
            // overwrite / restore / merge-without-feed / update-without-feed:
            // data was rewritten, not captured row-level. A feedless merge's or
            // update's row changes were never materialized, so under
            // allowFullRewrites the commit's own data files are served as
            // inserts — reset semantics for full rewrites, Delta's
            // ignoreChanges semantics for a feedless update (postimages
            // delivered, preimage retractions lost) — the contract the
            // streaming source's startingVersion/ignoreChanges paths rely on.
            if (allowFullRewrites)
              Some(stamp(toLogical(readData(c), mapping)
                .withColumn("_change_type", lit("insert")), c))
            else throw new IllegalStateException(
              s"version ${c.version} at $location is a ${c.operation} whose row " +
                s"changes were not captured${if (c.operation == "merge" || c.operation == "update") " (committed without changeFeed = true)" else ""} — " +
                "pass allowFullRewrites = true to read its data files as " +
                "inserts (reset semantics)")
        }
      }
    if (parts.isEmpty)
      // only no-op commits in range: empty frame, same CDF schema
      read(spark, location).limit(0)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L))
        .withColumn("_commit_timestamp", lit(null).cast("timestamp"))
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Row-level diff of two snapshots — the "what changed between v1 and v2" answer
    * when the commits in between carry no change feed (full rewrites, merges
    * written without `changeFeed = true`, externally imported data). Same
    * `_change_type` vocabulary as [[readChanges]] (`insert` / `delete` /
    * `update_preimage` / `update_postimage`); unchanged rows emit nothing.
    *
    * One full-outer shuffle join on `keys` with null-safe whole-row comparison.
    * Keys must identify at most one row per snapshot (the [[merge]] assumption).
    * Prefer [[readChanges]] whenever the feed exists: it resolves change files
    * from the log, while this scans BOTH snapshots — at 100 TB that is the
    * expensive-but-honest fallback, and it still prunes columns/partitions
    * through the ordinary parquet scans underneath.
    */
  def diffSnapshots(spark: SparkSession, location: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String]): DataFrame = {
    val from = readAsOf(spark, location, fromVersion)
    val to = readAsOf(spark, location, toVersion)
    val cols = from.columns.toSeq
    require(keys.nonEmpty, "keys must not be empty")
    require(keys.forall(cols.contains), s"keys $keys not all in ${cols.mkString(",")}")
    require(to.columns.toSeq == cols,
      s"snapshot schemas differ between v$fromVersion and v$toVersion — diff " +
        "requires a stable column set (read the range with readChanges instead)")
    val a = from.select(keys.map(col) :+ struct(cols.map(col): _*).as("_a"): _*)
    val b = to.select(keys.map(col) :+ struct(cols.map(col): _*).as("_b"): _*)
    val joined = a.join(b, keys, "full_outer")
    val isUpdate = col("_a").isNotNull && col("_b").isNotNull &&
      !(col("_a") <=> col("_b"))
    val entries = array(
      when(col("_a").isNull,
        struct(col("_b").as("r"), lit("insert").as("_change_type"))),
      when(col("_b").isNull,
        struct(col("_a").as("r"), lit("delete").as("_change_type"))),
      when(isUpdate,
        struct(col("_a").as("r"), lit("update_preimage").as("_change_type"))),
      when(isUpdate,
        struct(col("_b").as("r"), lit("update_postimage").as("_change_type"))))
    joined.select(explode(filter(entries, e => e.isNotNull)).as("e"))
      .select("e.r.*", "e._change_type")
  }

  /** Delta-style schema enforcement on append: a column shared with the live table
    * must keep its exact type (a type flip would poison every later mergeSchema
    * read); columns only one side has are fine — additive evolution, the reader
    * surfaces nulls for commits that predate a column. Checked against the read
    * schema (parquet footers), a metadata-only cost paid once per append.
    * Partition columns are exempt: their read-back type comes from directory-name
    * inference (e.g. "2024-01-01" dirs read back as DATE), so a type comparison
    * against the writer's column would reject every partitioned append.
    */
  private def enforceAppendSchema(spark: SparkSession, location: String,
      df: DataFrame, partitionBy: Seq[String]): Unit = {
    val cs = commits(spark, location)
    if (cs.isEmpty) return
    val live = liveCommitsFrom(cs, location, cs.last.version)
    val partCols = (live.flatMap(_.partition_by.split(",")) ++ partitionBy)
      .filter(_.nonEmpty).map(_.toLowerCase).toSet
    val existing = assemble(spark, location, live, cs.last.version).schema
    val byName = existing.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    // a declared widening accepts appends at ANY narrower lattice type — the
    // staged write casts them wide before files land ([[stageData]])
    val mapping = columnMapping(spark, location)
    val widened = wideningsIn(tableSpec(spark, location))
      .map { case (p, t) => mapping.getOrElse(p, p).toLowerCase -> t }
    df.schema.fields.filterNot(f => partCols.contains(f.name.toLowerCase)).foreach { f =>
      byName.get(f.name.toLowerCase).foreach { t =>
        require(t == f.dataType ||
            (widened.get(f.name.toLowerCase).contains(t) &&
              canWiden(f.dataType, t)),
          s"append schema mismatch on '${f.name}': table has $t, append has " +
            s"${f.dataType} — appends may add columns but never change a type")
      }
    }
  }

  /** How many numeric columns get min/max stats (mirrors Delta's
    * dataSkippingNumIndexedCols default: the first 32 in schema order).
    */
  private val MaxStatsColumns = 32

  /** Stage `df` once into a writer-unique data dir — no other writer can name it, so
    * losing a later log race never requires rewriting data, and a racer can never
    * delete/interleave these files. The row count AND per-column min/max piggyback on
    * one `observe` over the write itself (map-side, no extra job or scan), and CHECK
    * constraints (when given) ride the same pass via [[withCheckGuard]] — a failed
    * check aborts the write, deletes the partial staging dir, and rethrows as the
    * caller-facing IllegalArgumentException. Returns (dirName, rowCount, columnStats).
    */
  /** String columns whose min/max land in the commit log — capped separately
    * from the numeric set, and only values that are ASCII-safe and short
    * survive ([[SafeStatValue]]): ASCII is where Spark's UTF8String binary
    * min/max ordering and the driver's String comparison agree, which the
    * pruning compare relies on. A column whose min or max fails the gate
    * simply records no stats — conservative (scanned, never wrongly skipped).
    * Values are NEVER
    * truncated: a truncated max underestimates and would prune wrongly.
    */
  private val MaxStringStatsColumns = 8
  private val SafeStatValue = "[A-Za-z0-9 _.:+/@-]{1,64}".r

  private def stageData(df00: DataFrame, location: String,
      partitionBy: Seq[String], checks: Map[String, String] = Map.empty,
      freshDefinition: Boolean = false)
      : (String, Long, Map[String, (Double, Double)],
         Map[String, (String, String)], Map[String, Long], String) = {
    // an SQL INSERT that filled a DEFAULT arrives with the analyzer's
    // CURRENT_DEFAULT/EXISTS_DEFAULT attribute metadata still attached —
    // landing that in the parquet footers would let a later mergeSchema union
    // RESURRECT a since-dropped default (merge order picks a polluted footer;
    // reads then fill values the spec no longer declares). The spec sidecar
    // is the single source of truth; files carry none of it.
    val df0 = stripAnalyzerDefaultMeta(df00)
    // resolve the two mutable sidecars ONCE for the whole staged pass — the
    // cluster/widen/bloom/filestats steps below all consult them, and a read
    // each would be five spec GETs per landed batch on an object store
    val spec = tableSpec(df0.sparkSession, location)
    val mapping = columnMapping(df0.sparkSession, location)
    // generated columns ride the same staged pass: absent ones are computed
    // (so partitionBy on a generated column just works), present ones add a
    // null-safe-equality validation to the fused check guard
    val (df1, genChecks) =
      applyGenerated(df0,
        if (freshDefinition) Map.empty
        else generatedColumns(df0.sparkSession, location))
    val allChecks = checks ++ genChecks
    // the guard speaks LOGICAL names (constraints/generated are declared
    // logically); the files and their stats land under PHYSICAL names so every
    // live file agrees regardless of renames since
    val physicalDf = toPhysical(withCheckGuard(df1, location, allChecks),
      mapping)
    // declared widenings cast BEFORE files land: post-widen commits are
    // uniformly wide, so the per-commit union only reconciles pre-widen files
    val widenedDf = wideningsIn(spec)
      .foldLeft(physicalDf) { case (d, (p, t)) =>
        if (!d.columns.exists(_.equalsIgnoreCase(p))) d
        else d.withColumn(p, col(p).cast(t))
      }
    // DECLARATIVE WRITE CLUSTERING (liquid-clustering-lite): tables declaring
    // `TBLPROPERTIES ('graft.cluster.by' = 'col,...')` get every batch
    // range-repartitioned + sorted on those columns before files land, so
    // per-file min/max ranges are TIGHT and the filestats/bloom tiers
    // actually prune — no caller-side ORDER BY needed. Cost: one range
    // exchange of the batch (sampled bounds), the price Delta's clustered
    // writes pay too. Hive-partitioned batches range on (partition cols,
    // cluster cols): each task then holds a contiguous slice of one-or-few
    // partition values, so a partition dir's files tile the cluster range
    // instead of every task writing into every dir (which would also defeat
    // the per-file stats). Declared names are logical; files land physical.
    val clusterBy = spec
      .get("prop.graft.cluster.by").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map(l => mapping.collectFirst {
        case (p, log) if log.equalsIgnoreCase(l) => p
      }.getOrElse(l))
      .filter(p => widenedDf.columns.exists(_.equalsIgnoreCase(p)) &&
        !partitionBy.exists(_.equalsIgnoreCase(p)))
    val df =
      if (clusterBy.isEmpty) widenedDf
      else {
        val keys = (partitionBy.filter(p =>
          widenedDf.columns.exists(_.equalsIgnoreCase(p))) ++ clusterBy).map(col)
        widenedDf.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
      }
    val dataDir = s"d-${java.util.UUID.randomUUID()}"
    val statCols = df.schema.fields
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name)
      .filter(_.matches("[A-Za-z0-9_]+")) // plain identifier names only
      .take(MaxStatsColumns).toSeq
    val strCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name)
      .filter(_.matches("[A-Za-z0-9_]+"))
      .take(MaxStringStatsColumns).toSeq
    val obs = Observation(s"vt_rows_$dataDir")
    val aggs = count(lit(1)).as("rows") +:
      (statCols.flatMap(c => Seq(
        min(col(c)).cast("double").as(s"mn_$c"),
        max(col(c)).cast("double").as(s"mx_$c"))) ++
      strCols.flatMap(c => Seq(
        min(col(c)).as(s"smn_$c"),
        max(col(c)).as(s"smx_$c"))) ++
      // non-null counts ride the same pass; nulls = rows - nn (Delta
      // nullCount parity — 0 is recorded too, it licenses IS NULL pruning)
      (statCols ++ strCols).map(c => count(col(c)).as(s"nn_$c")))
    // a refused write deletes its partial staging dir; the Observation's
    // listener stays registered when its query fails (Spark offers no public
    // unregister) — one dormant listener per REFUSED write, on a path that
    // throws to the caller anyway
    try StagedWrite.parquet(df.observe(obs, aggs.head, aggs.tail: _*),
      s"$location/_data/$dataDir", partitionBy)
    catch { case e: Throwable => translateCheckFailure(e) }
    val observed = obs.get
    val stats = statCols.flatMap { c =>
      (observed.get(s"mn_$c"), observed.get(s"mx_$c")) match {
        case (Some(mn: Number), Some(mx: Number)) => // all-null columns observe null
          Some(c -> (mn.doubleValue(), mx.doubleValue()))
        case _ => None
      }
    }.toMap
    val sstats = strCols.flatMap { c =>
      (observed.get(s"smn_$c"), observed.get(s"smx_$c")) match {
        case (Some(mn: String), Some(mx: String))
            if SafeStatValue.matches(mn) && SafeStatValue.matches(mx) =>
          Some(c -> (mn, mx))
        case _ => None // all-null, unsafe, or over-long values: no stats
      }
    }.toMap
    val rowCount = observed("rows").asInstanceOf[Long]
    val nulls = (statCols ++ strCols).map(c =>
      c -> (rowCount - observed(s"nn_$c").asInstanceOf[Long])).toMap
    writeBlooms(df0.sparkSession, location, dataDir, df.schema, rowCount,
      partitionBy, spec, mapping)
    writeFileStats(df0.sparkSession, location, dataDir, df.schema, rowCount,
      partitionBy, spec)
    // the staged schema rides to claimCommit IN the staging tuple — a plain
    // value handoff, immune to any cache pressure — so the commit records it
    // and readers rebuild the snapshot schema from the log instead of a
    // distributed footer-merge job ([[logReadSchema]])
    (dataDir, rowCount, stats, sstats, nulls, df.schema.json)
  }

  /** BLOOM-FILTER COMMIT SKIPPING (opt-in): min/max stats cannot prune a
    * point lookup on a hash-like high-cardinality column — every commit's
    * [min, max] overlaps every probe. Tables that declare
    * `TBLPROPERTIES ('graft.bloom.columns' = 'doc_id,...')` get one bloom
    * filter PER COMMIT per declared column, staged INSIDE the commit's data
    * dir as `_bloom.<col>.bf` (parquet readers ignore `_`-prefixed files, a
    * lost commit race or vacuum deletes them with the dir, and readers of a
    * published commit always see final blooms — write-then-publish). An
    * equality probe then drops every commit whose bloom says the value is
    * definitely absent ([[bloomMightContain]]): `WHERE doc_id = k` on a
    * 10k-commit streaming table opens ~fpp × commits instead of all of them.
    *
    * Cost shape: building is one columnar re-read of the JUST-WRITTEN batch
    * per declared column (never the table) — the opt-in price of point-lookup
    * pruning. Commits beyond [[MaxBloomItems]] rows record no bloom (a bloom
    * sized for a billion rows is GBs; min/max still applies) — at 100 TB the
    * beneficiaries are exactly the steady-state SMALL commits (streaming
    * appends, CDC merges) whose long logs make point lookups expensive.
    * Integral and string columns only (the sketch's put/mightContain
    * vocabulary); declared names are LOGICAL, files land under PHYSICAL names
    * like every other stat.
    */
  private val MaxBloomItems = 8L * 1000 * 1000
  private val BloomFpp = 0.03

  private def writeBlooms(spark: SparkSession, location: String,
      dataDir: String, physicalSchema: org.apache.spark.sql.types.StructType,
      rows: Long, partitionBy: Seq[String], spec: Map[String, String],
      mapping: Map[String, String]): Unit = {
    val want = spec.get("prop.graft.bloom.columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    if (want.isEmpty || rows == 0 || rows > MaxBloomItems) return
    val physicalWanted = want.map(l => mapping.collectFirst {
      case (p, log) if log.equalsIgnoreCase(l) => p
    }.getOrElse(l))
    val eligible = physicalSchema.fields.filter { f =>
      physicalWanted.exists(_.equalsIgnoreCase(f.name)) && (f.dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.StringType => true
        case _ => false
      })
    }
    if (eligible.isEmpty) return
    val fresh = LogFileIndex.scanDir(spark, s"$location/_data/$dataDir", partitionBy,
      Some(physicalSchema))
    val fs = StagedWrite.raw(fileSystem(spark, location))
    eligible.foreach { f =>
      val bf = fresh.stat.bloomFilter(f.name, rows max 1L, BloomFpp)
      val out = fs.create(
        new Path(s"$location/_data/$dataDir/_bloom.${f.name}.bf"), true)
      try bf.writeTo(out) finally out.close()
    }
  }

  /** PER-FILE STATS — intra-commit skipping (opt-in): commit-level min/max is
    * useless exactly when a table was BULK-LOADED — one commit holds every
    * file, so no probe ever prunes anything. Tables that declare
    * `TBLPROPERTIES ('graft.filestats' = 'true')` additionally record, per
    * staged parquet file, the same stat tiers the commit itself carries
    * (numeric min/max as doubles, ASCII-safe string min/max, null counts) in a
    * `_filestats.tsv` sidecar INSIDE the commit's data dir — same lifecycle as
    * blooms: `_`-prefixed so parquet readers ignore it, lost commit races and
    * vacuum delete it with the dir, published dirs are immutable so it parses
    * once per JVM. A pruned read then keeps only the FILES whose stats can
    * match, not just the commits ([[readPrunedConjunction]]).
    *
    * Cost shape: one column-pruned re-read of the JUST-WRITTEN batch (stat
    * columns only), aggregated per `_metadata.file_path` — map-side-combined,
    * one output row per file. The sidecar is one small driver write. Files
    * only prune if values CLUSTER by file, so pair this with
    * `INSERT ... ORDER BY`, range repartitioning, or Z-order `compact` — the
    * same contract Delta's per-file stats have. Hive-partitioned commits
    * record stats for their NON-partition columns (rel paths keep the `k=v/`
    * subdirs; the pruned read lists surviving files under a `basePath` so
    * partition columns still materialize) — exactly the tier a
    * day-partitioned 100 TB table needs to skip on a user-id probe that
    * names no partition column.
    *
    * Format (tab-separated; every separator — tab, `=`, `,`, `;` — is outside
    * [[SafeStatValue]]'s alphabet and parquet part-file names, so the lines
    * split unambiguously):
    * `rel \t rows \t col=mn,mx;... \t col=smn,smx;... \t col=nulls;...`
    */
  private def writeFileStats(spark: SparkSession, location: String,
      dataDir: String, physicalSchema: org.apache.spark.sql.types.StructType,
      rows: Long, partitionBy: Seq[String],
      spec: Map[String, String]): Unit = {
    val opted = spec.get("prop.graft.filestats")
      .exists(v => v.trim.equalsIgnoreCase("true") || v.trim == "*")
    if (!opted || rows == 0) return
    // partition columns are excluded: they prune at directory granularity via
    // hive pruning (and their re-read types are INFERRED from dir names, which
    // need not match the declared type) — the file tier's job here is the
    // NON-partition columns a day-partitioned table cannot otherwise skip on
    val isPart = partitionBy.map(_.toLowerCase).toSet
    val nCols = physicalSchema.fields
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).filterNot(n => isPart(n.toLowerCase))
      .filter(_.matches("[A-Za-z0-9_]+")).take(MaxStatsColumns).toSeq
    val sCols = physicalSchema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).filterNot(n => isPart(n.toLowerCase))
      .filter(_.matches("[A-Za-z0-9_]+"))
      .take(MaxStringStatsColumns).toSeq
    if (nCols.isEmpty && sCols.isEmpty) return
    val fresh = LogFileIndex.scanDir(spark, s"$location/_data/$dataDir", partitionBy,
      Some(physicalSchema))
      .select(col("_metadata.file_path").as("_fp") +: (nCols ++ sCols).map(col): _*)
    val aggs = count(lit(1)).as("rows") +:
      (nCols.flatMap(c => Seq(
        min(col(c)).cast("double").as(s"mn_$c"),
        max(col(c)).cast("double").as(s"mx_$c"))) ++
      sCols.flatMap(c => Seq(min(col(c)).as(s"smn_$c"), max(col(c)).as(s"smx_$c"))) ++
      (nCols ++ sCols).map(c => count(col(c)).as(s"nn_$c")))
    // one row per file — bounded by the commit's file count, driver-safe
    val perFile = fresh.groupBy(col("_fp")).agg(aggs.head, aggs.tail: _*).collect()
    val lines = perFile.map { r =>
      val fp = r.getAs[String]("_fp")
      // rel is the path UNDER the commit's data dir — for a hive-partitioned
      // commit that includes the `k=v/` subdirectories
      val marker = s"/$dataDir/"
      val rel = fp.substring(fp.indexOf(marker) + marker.length)
      val fRows = r.getAs[Long]("rows")
      def d(n: String): Option[Double] =
        Option(r.getAs[Any](n)).map(_.asInstanceOf[Number].doubleValue())
      val num = nCols.flatMap(c => (d(s"mn_$c"), d(s"mx_$c")) match {
        case (Some(mn), Some(mx)) => Some(s"$c=$mn,$mx")
        case _ => None // all-null in this file
      }).mkString(";")
      val str = sCols.flatMap(c =>
        (Option(r.getAs[String](s"smn_$c")), Option(r.getAs[String](s"smx_$c"))) match {
          case (Some(mn), Some(mx))
              if SafeStatValue.matches(mn) && SafeStatValue.matches(mx) =>
            Some(s"$c=$mn,$mx")
          case _ => None
        }).mkString(";")
      val nulls = (nCols ++ sCols)
        .map(c => s"$c=${fRows - r.getAs[Long](s"nn_$c")}").mkString(";")
      s"$rel\t$fRows\t$num\t$str\t$nulls"
    }
    val out = StagedWrite.raw(fileSystem(spark, location))
      .create(new Path(s"$location/_data/$dataDir/_filestats.tsv"), true)
    try out.write((lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** One parsed sidecar line: a file's rel name and its stat tiers. */
  private case class FileStat(rel: String, rows: Long,
      num: Map[String, (Double, Double)], str: Map[String, (String, String)],
      nulls: Map[String, Long])

  /** Sidecars parse once per JVM (immutable dirs, same contract as blooms);
    * None = commit has no sidecar (not opted in, partitioned, or pre-feature).
    */
  private val fileStatsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Seq[FileStat]]]()

  private def fileStatsFor(spark: SparkSession, location: String,
      c: Commit): Option[Seq[FileStat]] = {
    if (c.data_dir.isEmpty) return None
    val path = s"${dataPath(location, c)}/_filestats.tsv"
    if (fileStatsCache.size > 1024) fileStatsCache.clear()
    fileStatsCache.computeIfAbsent(path, p => {
      val fs = fileSystem(spark, location)
      val pp = new Path(p)
      if (!fs.exists(pp)) None
      else {
        val in = fs.open(pp)
        val body =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        def pairs(s: String): Seq[(String, String)] =
          s.split(";").toSeq.filter(_.contains("=")).map { e =>
            val i = e.indexOf('='); (e.substring(0, i), e.substring(i + 1))
          }
        val parsed = body.split("\n").toSeq.filter(_.nonEmpty).flatMap { line =>
          line.split("\t", -1) match {
            case Array(rel, rows, num, str, nulls) =>
              scala.util.Try(FileStat(rel, rows.toLong,
                pairs(num).map { case (k, v) =>
                  val Array(mn, mx) = v.split(",", 2)
                  k -> (mn.toDouble, mx.toDouble)
                }.toMap,
                pairs(str).map { case (k, v) =>
                  val Array(mn, mx) = v.split(",", 2); k -> (mn, mx)
                }.toMap,
                pairs(nulls).map { case (k, v) => k -> v.toLong }.toMap)).toOption
            case _ => None
          }
        }
        if (parsed.isEmpty) None else Some(parsed)
      }
    })
  }

  /** Blooms parse once per JVM — data dirs are immutable after publish, so the
    * (positive AND negative) cache never goes stale. Bounded crudely: past 256
    * entries (worst case ~2 GB of 8M-item blooms, typically far less) the map
    * resets rather than grows without limit.
    */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[org.apache.spark.util.sketch.BloomFilter]]()

  private def bloomMightContain(spark: SparkSession, location: String,
      c: Commit, physicalCol: String, value: Any): Boolean = {
    if (c.data_dir.isEmpty) return true
    val path = s"$location/_data/${c.data_dir}/_bloom.$physicalCol.bf"
    if (bloomCache.size > 256) bloomCache.clear()
    val bf = bloomCache.computeIfAbsent(path, p => {
      val fs = fileSystem(spark, location)
      val pp = new Path(p)
      if (!fs.exists(pp)) None
      else {
        val in = fs.open(pp)
        try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
        finally in.close()
      }
    })
    bf.forall(_.mightContain(value)) // no bloom recorded → conservative keep
  }

  /** COUNT(*) of the live state from the log alone (Delta count-from-metadata): the
    * sum of the live commits' row counts, observed map-side at write time — zero
    * data files opened, O(commits) driver work, same answer at 100 rows or 100 TB.
    */
  def fastCount(spark: SparkSession, location: String,
      asOf: Option[Long] = None): Long = {
    val cs = commits(spark, location)
    require(cs.nonEmpty, s"no commits at $location")
    // a scoped merge contributes its own rows and retires replaced_rows prior
    // rows; the SAME subtraction serves DV commits — a delete adds 0 and
    // retires its matched count, an update adds its rewritten rows and retires
    // the same number. The subtraction is version-local, so the count is
    // equally exact for a time-travel read (`asOf`).
    val live = liveCommitsFrom(cs, location, asOf.getOrElse(cs.last.version))
    live.map(_.row_count).sum - live.map(_.replaced_rows).sum
  }

  /** COUNT(col) from the log alone, when the log can PROVE it — `Some(n)` iff
    * every live commit recorded a null count for the column (post-null-stats
    * logs only) and either (a) those counts are all zero, in which case
    * COUNT(col) ≡ COUNT(*) and [[fastCount]]'s DV/replace-exact subtraction
    * serves, or (b) no live commit retires prior rows (no DVs, no scoped
    * merges/replaces), in which case Σ(row_count − nulls). Anything else —
    * retired rows whose nullness the log cannot attribute, columns added by
    * DDL after older commits, pre-null-stats history — returns None and the
    * caller falls back to a real scan. Never guesses.
    */
  def fastCountCol(spark: SparkSession, location: String, column: String,
      asOf: Option[Long] = None): Option[Long] = {
    val cs = commits(spark, location)
    require(cs.nonEmpty, s"no commits at $location")
    val live = liveCommitsFrom(cs, location, asOf.getOrElse(cs.last.version))
    val mapping = columnMapping(spark, location)
    val p = mapping.collectFirst {
      case (phys, l) if l.equalsIgnoreCase(column) => phys
    }.getOrElse(column)
    // commits that stage no rows (pure DV deletes, zero-row replaces) have
    // vacuously-zero null counts — only row-contributing commits must have
    // recorded one for the column
    val contributing = live.filter(_.row_count > 0L)
    val perCommit = contributing.map(c => c.nulls.get(p))
    if (perCommit.exists(_.isEmpty)) None
    else {
      val totalNulls = perCommit.flatten.sum
      if (totalNulls == 0L)
        Some(live.map(_.row_count).sum - live.map(_.replaced_rows).sum)
      else if (live.forall(c => c.dv_dir.isEmpty && c.replace_where.isEmpty &&
          c.replaced_rows == 0L))
        Some(live.map(_.row_count).sum - totalNulls)
      else None
    }
  }

  /** MIN(col)/MAX(col) from the log alone, when the log can PROVE the exact
    * value. Outer None = not provable (fall back to a real scan); inner
    * None = the SQL answer is NULL (provably all-null column).
    *
    * Provability demands: (1) NO live commit retires rows — a DV may have
    * deleted the extremum row itself; (2) every row-contributing commit either
    * recorded stats for the column or is provably all-null in it (nulls ==
    * row_count — min/max ignore nulls, so such commits contribute nothing;
    * absent stats WITHOUT that proof could mean unsafe/overlong strings or a
    * pre-stats log → refuse); (3) the recorded representation is exact for the
    * column's type — numeric stats live as doubles, so integral columns
    * qualify only within the 2⁵³ whole-number window, floats/doubles always,
    * decimals never; string stats are exact by construction (the ASCII-safe
    * gate stores full values, never truncations).
    */
  def fastMinMax(spark: SparkSession, location: String, column: String,
      dataType: org.apache.spark.sql.types.DataType, wantMax: Boolean,
      asOf: Option[Long] = None): Option[Option[Any]] = {
    import org.apache.spark.sql.types._
    val cs = commits(spark, location)
    require(cs.nonEmpty, s"no commits at $location")
    val live = liveCommitsFrom(cs, location, asOf.getOrElse(cs.last.version))
    if (live.exists(c => c.dv_dir.nonEmpty || c.replace_where.nonEmpty ||
        c.replaced_rows > 0L)) return None
    val mapping = columnMapping(spark, location)
    val p = mapping.collectFirst {
      case (phys, l) if l.equalsIgnoreCase(column) => phys
    }.getOrElse(column)
    val contributing = live.filter(_.row_count > 0L)
    def allNull(c: Commit): Boolean = c.nulls.get(p).contains(c.row_count)
    dataType match {
      case _: NumericType =>
        val perCommit = contributing.flatMap { c =>
          c.stats.get(p) match {
            case Some((mn, mx)) => Some(Some(if (wantMax) mx else mn))
            case None if allNull(c) => Some(None)
            case None => None // unprovable commit
          }
        }
        if (perCommit.size != contributing.size) return None
        val vals = perCommit.flatten
        if (vals.isEmpty) return Some(None) // provably all-null ⇒ SQL NULL
        val v = if (wantMax) vals.max else vals.min
        dataType match {
          case DoubleType => Some(Some(v))
          case FloatType => Some(Some(v.toFloat))
          case LongType | IntegerType | ShortType | ByteType =>
            // doubles represent integers exactly only STRICTLY below 2^53 —
            // at exactly ±2^53 the stat could be a rounded-down 2^53 + 1
            if (v != math.rint(v) || math.abs(v) >= (1L << 53).toDouble) None
            else Some(Some(dataType match {
              case LongType => v.toLong
              case IntegerType => v.toInt
              case ShortType => v.toShort
              case _ => v.toByte
            }))
          case _ => None // decimals: the double representation is lossy
        }
      case StringType =>
        val perCommit = contributing.flatMap { c =>
          c.sstats.get(p) match {
            case Some((mn, mx)) => Some(Some(if (wantMax) mx else mn))
            case None if allNull(c) => Some(None)
            case None => None // absent could mean unsafe values — refuse
          }
        }
        if (perCommit.size != contributing.size) return None
        val vals = perCommit.flatten
        if (vals.isEmpty) Some(None)
        else Some(Some(if (wantMax) vals.max else vals.min))
      case _ => None
    }
  }

  /** The table as of its newest commit. */
  def read(spark: SparkSession, location: String): DataFrame = {
    // one log listing serves head resolution, the floor check, and the live
    // set — not the three separate listings read→readAsOf→liveCommits once cost
    val st = logState(spark, location)
    require(st.commits.nonEmpty, s"no commits at $location")
    val head = st.commits.last.version
    requireReadableFrom(spark, location, st, head)
    assemble(spark, location, liveCommitsFrom(st.commits, location, head), head)
  }

  /** Time travel: the table exactly as commit `version` left it. Versions whose data
    * has been [[vacuum]]ed can no longer be read (as with Delta after VACUUM) — the
    * vacuum floor makes that failure LOUD even when only partition subdirectories
    * were reclaimed (a silent partial read would otherwise be possible).
    *
    * SCHEMA TIME TRAVEL: reads reconstruct the spec/column-mapping state in
    * force at `version` from the `_ddl/` archive ([[sidecarsAsOf]]) — a column
    * renamed or dropped LATER still appears under its then-current name here,
    * and columns added later do not appear, matching Delta's per-commit
    * metadata up to one approximation: our DDL writes no commit, so a DDL
    * binds to the head version it was made AT (visible from that version
    * onward) rather than to a new commit of its own. Tables whose DDL history
    * predates the archive keep the legacy current-sidecars view for that
    * prefix (the baseline archive). Constraints remain deliberately
    * unversioned (see [[writeConstraints]]).
    */
  def readAsOf(spark: SparkSession, location: String, version: Long): DataFrame = {
    val st = logState(spark, location)
    requireReadableFrom(spark, location, st, version)
    assemble(spark, location, liveCommitsFrom(st.commits, location, version), version)
  }

  private val VacuumFloorFile = "_vacuum_floor.json"

  /** TIMESTAMP AS OF resolution with MONOTONIC effective timestamps (the
    * adjustment Delta's in-commit-timestamp reader applies): raw commit stamps
    * come from writer wall clocks and can regress across commits — an NTP
    * step, or skew between two writers — and resolving a cutoff against raw
    * stamps would then bind to the wrong side of a later commit. The
    * effective timestamp of commit N is `max(raw_N, effective_{N-1} + 1ms)`,
    * so version order always dominates wall-clock order; the newest commit
    * whose EFFECTIVE stamp is ≤ the cutoff wins. Commits with unparseable
    * stamps keep the running max advancing past them and never match a
    * cutoff on their own (the defensive-parse policy vacuum uses — one
    * corrupt legacy stamp must not take down every timestamp read).
    */
  def versionAtOrBefore(spark: SparkSession, location: String,
      cutoff: Instant): Option[Long] = {
    var eff: Instant = null
    var ans = Option.empty[Long]
    commits(spark, location).foreach { c =>
      parseInstant(c.timestamp).foreach { raw =>
        eff = if (eff == null || raw.isAfter(eff)) raw else eff.plusMillis(1)
        if (!eff.isAfter(cutoff)) ans = Some(c.version)
      }
    }
    ans
  }

  /** Oldest version whose data is still guaranteed complete on disk; -1 before
    * any vacuum ran. Raised by [[vacuum]] when it reclaims data an older
    * version still needs.
    */
  def minReadableVersion(spark: SparkSession, location: String): Long =
    floorFrom(spark, location, logState(spark, location))

  /** The floor from an already-taken log listing: no floor file in the listing
    * (the common never-vacuumed case) costs zero further calls; a present file
    * is read fresh (it is rename-republished by later vacuums, so its content
    * is not write-once-cacheable like commits).
    */
  private def floorFrom(spark: SparkSession, location: String,
      st: LogState): Long =
    st.floorStatus.fold(-1L)(fst =>
      readFloor(fileSystem(spark, location), fst.getPath))

  private def readFloor(fs: FileSystem, p: Path): Long =
    MetadataJson.parse(readUtf8(fs, p))
      .fold(-1L)(_.path("min_readable_version").asLong(-1L))

  private def requireReadable(spark: SparkSession, location: String,
      version: Long): Unit =
    requireReadableFrom(spark, location, logState(spark, location), version)

  private def requireReadableFrom(spark: SparkSession, location: String,
      st: LogState, version: Long): Unit = {
    val floor = floorFrom(spark, location, st)
    if (version < floor) throw new IllegalStateException(
      s"version $version at $location was vacuumed — the oldest readable " +
        s"version is $floor")
  }

  private def raiseVacuumFloor(fs: FileSystem, location: String,
      floor: Long): Unit = {
    val p = new Path(s"$location/_commit_log/$VacuumFloorFile")
    val current = if (!fs.exists(p)) -1L else readFloor(fs, p)
    if (floor <= current) return
    val tmp = new Path(s"$location/_commit_log/_vacuum_floor.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(MetadataJson.obj(_.writeNumberField("min_readable_version", floor))
      .getBytes("UTF-8"))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p)) fs.delete(tmp, false)
  }

  /** Stats-pruned scan of the LATEST version: rows with `lo <= column <= hi`, skipping
    * every commit whose recorded [min, max] cannot overlap — the commit-granularity
    * tier of Delta-style data skipping, resolved DRIVER-SIDE from the log before any
    * file is listed. Commits without stats for the column are scanned (conservative);
    * the exact predicate is re-applied to whatever survives, so pruning is a pure
    * optimization, never a semantics change. On a long-appended 100 TB table a
    * time-range or id-range query touches only the commits that can match.
    */
  def readPruned(spark: SparkSession, location: String, column: String,
      lo: Double, hi: Double): DataFrame = {
    val cs = commits(spark, location)
    require(cs.nonEmpty, s"no commits at $location")
    val live = liveCommitsFrom(cs, location, cs.last.version)
    // commit stats are keyed by PHYSICAL column name; the caller's probe is
    // logical — translate before the lookup (identity when never renamed)
    val physical = columnMapping(spark, location).collectFirst {
      case (p, l) if l.equalsIgnoreCase(column) => p
    }.getOrElse(column)
    // scoped merges are kept regardless of stats: dropping one would also drop
    // its SHADOW over earlier commits and resurrect replaced rows. DV-carrying
    // commits likewise — dropping one would resurrect its deleted rows.
    val kept = live.filter(c => c.replace_where.nonEmpty || c.dv_dir.nonEmpty ||
      c.stats.get(physical).forall { case (mn, mx) => mx >= lo && mn <= hi })
    val predicate = col(column) >= lo && col(column) <= hi
    if (kept.isEmpty)
      // every commit pruned: keep the full-scan plan for its schema; parquet footer
      // stats make the (empty) scan cheap and the predicate guarantees zero rows
      assemble(spark, location, live, cs.last.version).filter(predicate)
    else assemble(spark, location, kept, cs.last.version).filter(predicate)
  }

  /** [[readPruned]] for STRING columns: drop whole commits whose recorded
    * `[min, max]` cannot intersect `[lo, hi]` (inclusive; point lookup =
    * `lo == hi`). Stats exist only when a commit's values were ASCII-safe
    * ([[SafeStatValue]]) — exactly where the log's lexicographic compare and
    * Spark's UTF8String min/max agree — so a stat-less column scans
    * conservatively and the exact predicate always re-applies after pruning.
    * The 100 TB use: date-string partitions-in-content, id prefixes, source
    * tags — an equality or range probe on an append-mostly table touches only
    * the commits that can overlap.
    */
  def readPrunedString(spark: SparkSession, location: String, column: String,
      lo: String, hi: String): DataFrame = {
    require(lo <= hi, s"empty range: '$lo' > '$hi'")
    val cs = commits(spark, location)
    require(cs.nonEmpty, s"no commits at $location")
    val live = liveCommitsFrom(cs, location, cs.last.version)
    // stats are keyed by PHYSICAL column name; the probe is logical
    val physical = columnMapping(spark, location).collectFirst {
      case (p, l) if l.equalsIgnoreCase(column) => p
    }.getOrElse(column)
    // same keep rules as the numeric path: scoped merges shadow, DVs subtract —
    // neither may be dropped on stats alone
    val kept = live.filter(c => c.replace_where.nonEmpty || c.dv_dir.nonEmpty ||
      c.sstats.get(physical).forall { case (mn, mx) => mx >= lo && mn <= hi })
    val predicate = col(column) >= lo && col(column) <= hi
    if (kept.isEmpty) assemble(spark, location, live, cs.last.version)
      .filter(predicate)
    else assemble(spark, location, kept, cs.last.version).filter(predicate)
  }

  /** Commit-pruned scan for a CONJUNCTION of per-column ranges — the DSv2
    * filter-pushdown entry ([[graft.sources.table.GraftScanBuilder]]): a plain
    * SQL `WHERE ts BETWEEN ... AND source = 'web'` on a catalog table prunes
    * whole commits from the multi-path scan exactly as the explicit
    * [[readPruned]]/[[readPrunedString]] calls do. A commit survives only if
    * EVERY probed column may overlap its range (missing stats → conservative
    * keep), SOME value of every IN/equality list might be present (per-value
    * range + bloom), and its recorded null counts allow every IS [NOT] NULL
    * probe; scoped merges and DV-carrying commits are always kept (dropping one
    * would resurrect replaced/deleted rows). Unlike the explicit entries this
    * does NOT re-apply the predicate — the DSv2 bridge applies the pushed
    * filters (and Spark the residuals) itself.
    */
  def readPrunedConjunction(spark: SparkSession, location: String,
      version: Option[Long], num: Map[String, (Double, Double)],
      str: Map[String, (String, String)],
      inSets: Map[String, Seq[Any]] = Map.empty,
      nullProbes: Map[String, Boolean] = Map.empty): DataFrame = {
    val cs = commits(spark, location)
    require(cs.nonEmpty, s"no commits at $location")
    val v = version.getOrElse(cs.last.version)
    version.foreach(requireReadable(spark, location, _))
    val live = liveCommitsFrom(cs, location, v)
    // stats are keyed by PHYSICAL column name; the probes are logical
    val mapping = columnMapping(spark, location)
    def physical(c: String): String = mapping.collectFirst {
      case (p, l) if l.equalsIgnoreCase(c) => p
    }.getOrElse(c)
    val numP = num.map { case (c, r) => physical(c) -> r }
    val strP = str.map { case (c, r) => physical(c) -> r }
    // `inSets` = EQUALITY/IN probes (native-typed value lists): a commit
    // survives a column's list iff SOME value might be present — each value
    // checked against the commit's min/max range AND its bloom filter when one
    // was recorded (the point-lookup tier min/max cannot serve on hash-like
    // columns). The per-VALUE range check is what the conjunction envelope
    // above cannot do: `id IN (50, 2050)` has envelope [50, 2050], which keeps
    // a commit spanning [1000, 1099] that no individual value can hit.
    val inP = inSets.map { case (c, xs) => physical(c) -> xs }
    def commitMayHold(c: Commit, p: String, x: Any): Boolean = {
      val rangeOk = x match {
        case s: String =>
          c.sstats.get(p).forall { case (mn, mx) => s >= mn && s <= mx }
        case n: Number =>
          c.stats.get(p).forall { case (mn, mx) =>
            n.doubleValue >= mn && n.doubleValue <= mx }
        case _ => true
      }
      rangeOk && bloomMightContain(spark, location, c, p, x)
    }
    // `nullProbes` (col → true for IS NULL, false for IS NOT NULL): the
    // recorded per-commit null counts decide whether a commit can contain any
    // matching row at all — IS NOT NULL prunes all-null commits (whose min/max
    // is deliberately unrecorded, so the range gate alone never could), and
    // IS NULL prunes null-free ones. Absent counts (older logs) keep.
    val nullP = nullProbes.map { case (c, w) => physical(c) -> w }
    val kept = live.filter(c => c.replace_where.nonEmpty || c.dv_dir.nonEmpty ||
      (numP.forall { case (p, (lo, hi)) =>
        c.stats.get(p).forall { case (mn, mx) => mx >= lo && mn <= hi } } &&
       strP.forall { case (p, (lo, hi)) =>
        c.sstats.get(p).forall { case (mn, mx) => mx >= lo && mn <= hi } } &&
       inP.forall { case (p, xs) => xs.exists(x => commitMayHold(c, p, x)) } &&
       nullP.forall { case (p, wantNull) =>
         c.nulls.get(p).forall(n => if (wantNull) n > 0 else n < c.row_count) }))
    // PER-FILE tier: commits that carry a `_filestats.tsv` sidecar (opt-in,
    // see writeFileStats) prune inside the commit too — only the files whose
    // per-file stats can match the probes stay in the scan. This is what makes
    // skipping work on BULK-LOADED tables, where one commit holds everything
    // and the commit-level gate above can never drop it.
    val fileSubset: Map[String, Seq[String]] = kept.flatMap { c =>
      fileStatsFor(spark, location, c).flatMap { files =>
        def fileMayHold(f: FileStat, p: String, x: Any): Boolean = x match {
          case s: String =>
            f.str.get(p).forall { case (mn, mx) => s >= mn && s <= mx }
          case n: Number =>
            f.num.get(p).forall { case (mn, mx) =>
              n.doubleValue >= mn && n.doubleValue <= mx }
          case _ => true
        }
        val surviving = files.filter(f =>
          numP.forall { case (p, (lo, hi)) =>
            f.num.get(p).forall { case (mn, mx) => mx >= lo && mn <= hi } } &&
          strP.forall { case (p, (lo, hi)) =>
            f.str.get(p).forall { case (mn, mx) => mx >= lo && mn <= hi } } &&
          inP.forall { case (p, xs) => xs.exists(x => fileMayHold(f, p, x)) } &&
          nullP.forall { case (p, wantNull) =>
            f.nulls.get(p).forall(n => if (wantNull) n > 0 else n < f.rows) })
        if (surviving.size == files.size) None // nothing pruned — whole dir
        else Some(c.data_dir ->
          surviving.map(f => s"${dataPath(location, c)}/${f.rel}"))
      }
    }.toMap
    // every commit pruned — or only FILE-LESS ones left (pure-delete/zero-row
    // replace commits lay out no parquet, the null-count gate can prune every
    // data-bearing commit around them, and the per-file tier can empty a
    // commit's own file list): keep the full-scan plan for its schema — the
    // caller's predicate guarantees zero rows and footer stats make it cheap.
    // A zero-path parquet read would fail schema inference.
    val scannable = kept.exists(c =>
      !((c.operation == "delete" || c.operation == "replace") && c.data_dir.isEmpty)
        && fileSubset.get(c.data_dir).forall(_.nonEmpty))
    if (scannable) assemble(spark, location, kept, v, fileSubset)
    else assemble(spark, location, live, v)
  }

  /** The commits whose data dirs make up the state at `version`: everything from the
    * last FULL-state commit at or before it. A partition-scoped merge
    * (`replace_where` nonEmpty) does not reset the base — it shadows the touched
    * partitions of earlier commits instead ([[assemble]]).
    */
  private def liveCommits(spark: SparkSession, location: String,
      version: Long): Seq[Commit] =
    liveCommitsFrom(commits(spark, location), location, version)

  /** [[liveCommits]] over an ALREADY-LISTED commit log — readers that need the
    * list anyway (to know the head) avoid a second log listing per read.
    */
  private def liveCommitsFrom(cs: Seq[Commit], location: String,
      version: Long): Seq[Commit] = {
    require(cs.exists(_.version == version),
      s"version $version does not exist at $location (have ${cs.map(_.version)})")
    val visible = cs.filter(_.version <= version)
    val base = visible.lastIndexWhere(_.isFullState)
    if (base < 0) visible else visible.drop(base)
  }

  private def assemble(spark: SparkSession, location: String,
      live: Seq[Commit], asOf: Long,
      fileSubset: Map[String, Seq[String]] = Map.empty): DataFrame = {
    val dvs = live.filter(_.dv_dir.nonEmpty)
    if (dvs.isEmpty)
      assembleScan(spark, location, live, keepMeta = false, asOf, fileSubset)
    else applyDvs(spark, location,
        assembleScan(spark, location, live, keepMeta = true, asOf, fileSubset),
        dvs)
      .drop(DvFileCol, DvPosCol)
  }

  /** Internal column names carrying each scanned row's (file, row-index) identity
    * for deletion-vector resolution — projected from the parquet reader's
    * `_metadata` struct, which whole-stage codegen materializes for free.
    */
  private val DvFileCol = "_gr_dv_file"
  private val DvPosCol = "_gr_dv_pos"

  /** Above this many live DV entries the anti-join falls back to a shuffle
    * (AQE-planned) instead of a broadcast — ~4M (file, pos) rows is a few hundred
    * MB broadcast, the practical executor-memory ceiling. Known driver-side from
    * the commits' `replaced_rows`, no data read.
    */
  private val DvBroadcastMaxRows = 4L * 1000 * 1000

  /** The multi-commit scan WITHOUT deletion vectors applied; `keepMeta` adds the
    * (file, row-index) identity columns the DV anti-join needs.
    */
  private def assembleScan(spark: SparkSession, location: String,
      live: Seq[Commit], keepMeta: Boolean, asOf: Long,
      fileSubset: Map[String, Seq[String]] = Map.empty): DataFrame = {
    // `asOf` is the READ's version, passed explicitly — the live set's max
    // version is NOT it for pruned reads (readPruned drops commits from the
    // head scan; the schema must stay the head's).
    //
    // Head reads deliberately do NOT short-circuit to the two current sidecar
    // FILES: a compound DDL (rename = spec + mapping) updates them as two
    // separate writes, so a reader between the two would see a TORN schema
    // (both old and new name at once — DdlRaceSpec catches exactly this). The
    // single write-once archive is the atomic publication point, so head
    // reads resolve through it too. Cost at head: one exists for never-DDL
    // tables; exists + listStatus + cached parse for tables with DDL history
    // — already metadata-only.
    val (spec, mapping) = sidecarsAsOf(spark, location, asOf)
    withWideningFrom(spec, mapping, withAddedColumnsFrom(spec,
      toLogical(assembleScanPhysical(spark, location, live, keepMeta,
        widened = spec.keys.exists(_.startsWith(WidenPrefix)), fileSubset),
        mapping)))
  }

  /** The snapshot's read schema assembled FROM THE LOG (Delta schema-in-log
    * parity): the additive union of every scanned commit's recorded schema,
    * first-seen field order and types, later commits appending new columns —
    * exactly the shape `mergeSchema` inference produces, minus the
    * distributed footer-read job it costs (a whole scheduler round-trip per
    * read at any size; O(files) remote footer GETs at 100 TB). None — fall
    * back to inference — when any scanned commit predates schema recording or
    * two commits disagree on a column's type (the declared-widening path
    * handles type evolution separately and never takes this shortcut).
    * The result is `asNullable` because commits written before a column
    * existed surface NULLs for it.
    */
  private def logReadSchema(scans: Seq[Commit])
      : Option[org.apache.spark.sql.types.StructType] = {
    if (scans.isEmpty || scans.exists(_.schema_json.isEmpty)) return None
    val parsed = scans.map { c =>
      try org.apache.spark.sql.types.DataType.fromJson(c.schema_json) match {
        case st: org.apache.spark.sql.types.StructType => Some(st)
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    if (parsed.exists(_.isEmpty)) return None
    val fields = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.StructField]
    for (st <- parsed.flatten; f <- st.fields) {
      fields.get(f.name.toLowerCase) match {
        case None => fields(f.name.toLowerCase) = f
        case Some(e) if e.dataType == f.dataType => ()
        case Some(_) => return None // type conflict: defer to mergeSchema
      }
    }
    Some(org.apache.spark.sql.types.StructType(
      fields.values.toSeq.map(_.copy(nullable = true))))
  }

  /** The live commits' data as ONE parquet scan over a [[LogFileIndex]]: the
    * log names the roots, [[DataDirCache]] serves their listings, and the read
    * schema comes from the log ([[logReadSchema]]), so building the plan lists
    * nothing and opens no footer. Partitions a LATER scoped merge rewrote are
    * left out of the index's partition spec — a file-level exclusion, so a
    * partitioned table of N live commits plans as one scan, not N unioned
    * branches. Per-file-stat pruned commits list only their surviving files.
    * Commits are read one per branch, unioned by name, only where they must be
    * reconciled one by one: a declared type widening, or live commits that
    * disagree on the partition layout. Legacy commits with no recorded schema
    * keep `mergeSchema` inference, run over the index's files.
    */
  private def assembleScanPhysical(spark: SparkSession, location: String,
      live: Seq[Commit], keepMeta: Boolean, widened: Boolean = false,
      fileSubset: Map[String, Seq[String]] = Map.empty): DataFrame = {
    // pure-delete commits carry no data of their own — and so do commits whose
    // per-file stats pruned EVERY file (the subset is present but empty)
    val scans = live.filter(c =>
      !((c.operation == "delete" || c.operation == "replace") && c.data_dir.isEmpty)
        && fileSubset.get(c.data_dir).forall(_.nonEmpty))
    scanCommits(spark, scans, keepMeta, widened, logReadSchema) { c =>
      val root = LogFileIndex.root(spark, dataPath(location, c))
      ScanRoot(root, fileSubset.get(c.data_dir).fold(Seq(root))(
          _.map(LogFileIndex.root(spark, _))),
        live.filter(_.version > c.version).flatMap(_.replacedPartitions))
    }
  }

  /** `cs` as one [[LogFileIndex]] scan — or one per commit, unioned by name,
    * when `perCommit` or when they disagree on the partition layout. `keepMeta`
    * adds the (file, row-index) identity columns the DV anti-join needs.
    */
  private def scanCommits(spark: SparkSession, cs: Seq[Commit], keepMeta: Boolean,
      perCommit: Boolean, schema: Seq[Commit] => Option[StructType])(
      root: Commit => ScanRoot): DataFrame =
    (if (perCommit || cs.map(_.partition_by).distinct.size > 1) cs.map(Seq(_))
     else Seq(cs)).map { g =>
      val df = LogFileIndex.scan(spark, g.map(root),
        g.headOption.toSeq.flatMap(_.partition_by.split(",")).filter(_.nonEmpty),
        schema(g))
      if (!keepMeta) df
      else df.withColumn(DvFileCol, col("_metadata.file_path"))
        .withColumn(DvPosCol, col("_metadata.row_index"))
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  // DV files have one fixed writer-controlled shape — no schema inference
  private val DvSchema = StructType.fromDDL("file STRING, pos BIGINT")

  /** Subtract the live deletion vectors from a meta-carrying scan: ONE anti-join
    * on (file, pos) — broadcast while the DV total (known from the log) is small,
    * shuffle beyond that. Entries whose file a later scoped merge shadowed or a
    * compact retired simply never match — a DV can remove rows, never resurrect.
    */
  private def applyDvs(spark: SparkSession, location: String, scan: DataFrame,
      dvCommits: Seq[Commit]): DataFrame = {
    val dv = LogFileIndex.scan(spark,
      dvCommits.map(c => LogFileIndex.dir(spark, dvPath(location, c))), Nil,
      Some(DvSchema))
    val hinted =
      if (dvCommits.map(_.replaced_rows).sum <= DvBroadcastMaxRows) broadcast(dv)
      else dv
    scan.join(hinted,
      scan(DvFileCol) === hinted("file") && scan(DvPosCol) === hinted("pos"),
      "left_anti")
  }

  /** The state at `version` WITH the DV identity columns still attached — the
    * snapshot a new delete/update computes its matches against (existing DVs
    * applied, so re-matching an already-deleted row is impossible).
    */
  private def snapshotWithMeta(spark: SparkSession, location: String,
      version: Long): DataFrame =
    snapshotWithMetaFrom(spark, location, commits(spark, location), version)

  /** [[snapshotWithMeta]] over an already-listed log — the DML loops list the
    * log once per attempt and must not pay a second listing for the snapshot.
    */
  private def snapshotWithMetaFrom(spark: SparkSession, location: String,
      cs: Seq[Commit], version: Long): DataFrame = {
    val live = liveCommitsFrom(cs, location, version)
    val scan = assembleScan(spark, location, live, keepMeta = true, version)
    val dvs = live.filter(_.dv_dir.nonEmpty)
    if (dvs.isEmpty) scan else applyDvs(spark, location, scan, dvs)
  }

  /** Delta `GENERATE symlink_format_manifest` parity: write the CURRENT
    * snapshot's data-file list under `_symlink_format_manifest/` (one absolute
    * path per line), so engines that cannot read the commit log —
    * Trino/Presto/Athena external tables over raw parquet — get a consistent
    * snapshot instead of whatever uncommitted or superseded files a directory
    * listing would surface. The layout matches what those engines expect:
    * an UNPARTITIONED table writes a single `manifest`; a hive-partitioned
    * table writes one `<partition-path>/manifest` PER partition (external
    * engines map manifests to partitions by directory, so a flat file cannot
    * express a partitioned table). Metadata-only (the file list comes from the
    * log resolution, no data reads). Regenerate after commits; the old tree is
    * replaced wholesale so dropped partitions do not leave stale manifests.
    * Readers of a stale manifest see an older consistent snapshot, never a
    * torn one — though [[vacuum]] can reclaim files a sufficiently old
    * manifest still lists (Delta's own caveat).
    */
  def generateManifest(spark: SparkSession, location: String): Seq[String] = {
    val cs = commits(spark, location)
    require(cs.nonEmpty, s"no commits at $location")
    // a symlink manifest lists whole files — row-level deletion vectors cannot
    // be expressed in it, and emitting the files anyway would resurrect deleted
    // rows for external engines (the same reason Delta refuses manifest
    // generation on DV-bearing tables). Compaction materializes DVs away.
    require(liveCommitsFrom(cs, location, cs.last.version).forall(_.dv_dir.isEmpty),
      s"$location carries live deletion vectors (deleteWhere/updateWhere) — a " +
        "symlink manifest cannot express row-level deletes; run compact() first")
    val files = read(spark, location).inputFiles.toSeq.sorted
    val root = new Path(s"$location/_symlink_format_manifest")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // the hive partition path of a data file = the k=v directory segments
    // between its commit's _data/<dir> root and the file name
    def partitionPath(f: String): String = {
      val segs = new Path(f).toUri.getPath.split("/").toSeq
      val i = segs.lastIndexOf("_data")
      if (i < 0) ""
      else segs.slice(i + 2, segs.length - 1).filter(_.contains("=")).mkString("/")
    }
    fs.delete(root, true)
    files.groupBy(partitionPath).foreach { case (pp, group) =>
      val dir = if (pp.isEmpty) root else new Path(root, pp)
      val out = fs.create(new Path(dir, "manifest"), true)
      try out.write(group.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }
    files
  }

  /** Per-file inventory of the snapshot at `version` (head when None): exactly
    * the files the snapshot's PLAN reads (plan-resolved `inputFiles`, so
    * partition shadowing from scoped merges is respected and DV/change
    * artifacts are excluded by the live-dir attribution), each attributed to
    * the commit whose data dir holds it, with size and hive partition path.
    * Cost: one recursive listing per live data dir — metadata-only, no data
    * file opened. The ops counterpart of [[detail]]: where detail summarizes,
    * this itemizes (hot-partition audits, external-engine handoffs, file-size
    * histograms for compaction planning).
    */
  def files(spark: SparkSession, location: String,
      version: Option[Long] = None, partitionPrefix: String = "",
      maxFiles: Long = 1000000L): DataFrame = {
    import spark.implicits._
    require(maxFiles > 0, "max_files must be positive")
    val cs = commits(spark, location)
    require(cs.nonEmpty, s"no commits at $location")
    val v = version.getOrElse(cs.last.version)
    val fs = fileSystem(spark, location)
    val byDir: Seq[(String, (Long, String))] = liveCommitsFrom(cs, location, v)
      .filter(_.data_dir.nonEmpty)
      .map(c => new Path(dataPath(location, c)).toUri.getPath ->
        (c.version, c.operation))
    val sizes: Map[String, Long] = byDir.flatMap { case (dir, _) =>
      val p = new Path(dir)
      if (!fs.exists(p)) Nil
      else {
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        while (it.hasNext) {
          val st = it.next()
          buf += st.getPath.toUri.getPath -> st.getLen
        }
        buf.toSeq
      }
    }.toMap
    val all = readAsOf(spark, location, v).inputFiles.toSeq.sorted.flatMap { f =>
      val up = new Path(f).toUri.getPath
      // attribution doubles as the filter: a plan input OUTSIDE every live
      // data dir (a DV parquet feeding the anti-join) is not table data
      byDir.find { case (dir, _) => up.startsWith(dir + "/") }.map {
        case (dir, (cv, op)) =>
          val rel = up.stripPrefix(dir + "/").split("/").toSeq
          val pp = rel.dropRight(1).filter(_.contains("=")).mkString("/")
          (cv, op, f, sizes.getOrElse(up, -1L), pp)
      }
    }.filter(r => partitionPrefix.isEmpty || r._5.startsWith(partitionPrefix))
    // the inventory is a DRIVER result (DSv2 procedures return driver rows) —
    // cap it loudly instead of handing a 10⁷-file table a multi-GB array; the
    // marker row keeps the schema and names the remedy
    val rows =
      if (all.size <= maxFiles) all
      else all.take(maxFiles.toInt) :+ ((-1L, "TRUNCATED",
        s"${all.size - maxFiles} more files omitted — raise max_files or " +
          "pass a partition prefix filter", -1L, ""))
    rows.toDF("commit_version", "operation", "file", "size_bytes",
      "partition_path")
  }

  /** Delta `DESCRIBE DETAIL` parity: ONE row summarizing the current snapshot —
    * version, operation, row count (log-resolved, no scan), live file count and
    * bytes (driver-side listing of the live dirs only), partition columns,
    * constraint count, live deletion-vector entries, and how many live dirs are
    * borrowed from a clone source. Metadata-only: no data file is opened.
    */
  def detail(spark: SparkSession, location: String): DataFrame = {
    import spark.implicits._
    val cs = commits(spark, location)
    require(cs.nonEmpty, s"no commits at $location")
    val latest = cs.last
    val live = liveCommitsFrom(cs, location, latest.version)
    val fs = fileSystem(spark, location)
    def filesUnder(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val p = new Path(dir)
      if (!fs.exists(p)) Nil
      else {
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
        while (it.hasNext) buf += it.next()
        buf.toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      }
    }
    val dataDirs = live.filter(c =>
        !((c.operation == "delete" || c.operation == "replace") && c.data_dir.isEmpty))
      .map(c => dataPath(location, c))
    val stats = dataDirs.flatMap(filesUnder)
    Seq((
      location,
      latest.version,
      latest.operation,
      latest.timestamp,
      fastCount(spark, location),
      stats.length.toLong,
      stats.map(_.getLen).sum,
      live.last.partition_by,
      constraints(spark, location).size.toLong,
      live.filter(_.dv_dir.nonEmpty).map(_.replaced_rows).sum,
      live.count(c => isBorrowed(c.data_dir) || isBorrowed(c.dv_dir)).toLong
    )).toDF("location", "version", "operation", "last_modified", "num_rows",
      "num_files", "size_bytes", "partition_columns", "num_constraints",
      "live_dv_rows", "borrowed_commits")
  }

  /** Log-resolved (rows, bytes) of the snapshot at `version` (latest when None) —
    * the DSv2 scan's planning statistics ([[graft.sources.table.GraftScanBuilder]]).
    * Rows are exact (commit metadata, the [[fastCount]] subtraction); bytes are a
    * driver-side listing of the live data dirs — an overestimate when scoped
    * merges shadow partition slices or DVs hide rows, which errs on the safe side
    * for join planning (never broadcasts something bigger than reported). No data
    * file is opened; cost is O(live files) namenode metadata.
    */
  def snapshotStats(spark: SparkSession, location: String,
      version: Option[Long] = None): (Long, Long) = {
    val cs = commits(spark, location)
    require(cs.nonEmpty, s"no commits at $location")
    val live = liveCommitsFrom(cs, location, version.getOrElse(cs.last.version))
    val rows = live.map(_.row_count).sum - live.map(_.replaced_rows).sum
    val fs = fileSystem(spark, location)
    val bytes = live.filter(c =>
        !((c.operation == "delete" || c.operation == "replace") && c.data_dir.isEmpty))
      .map(c => new Path(dataPath(location, c)))
      .filter(fs.exists)
      .map(p => fs.getContentSummary(p).getLength)
      .sum
    (rows, bytes)
  }

  /** Delta-style `history()`: one row per commit, newest first. */
  def history(spark: SparkSession, location: String): DataFrame = {
    import spark.implicits._
    commits(spark, location).toDF().orderBy(col("version").desc)
  }

  /** Reclaim disk from (a) orphan data dirs — no commit references them (a crashed
    * writer, or a racer that lost every claim) — older than `orphanGraceMs`,
    * (b) data dirs of commits superseded by an overwrite that itself committed
    * before `now - retentionMs`, and (c) partition SUBDIRS whose content an
    * out-of-retention partition-scoped merge replaced — the rule that lets a
    * table maintained only by scoped merges reclaim shadowed data without ever
    * paying a full-state reset. After (b) or (c), as-of reads older than the
    * retention window fail loudly against the raised vacuum floor
    * ([[minReadableVersion]] — exactly Delta's VACUUM contract, made explicit
    * because (c) would otherwise fail silently-partial rather than
    * missing-path); the commit log itself is kept, so `history()` still shows
    * the full lineage. Returns the deleted paths.
    *
    * `orphanGraceMs` exists because an in-flight writer's data dir is
    * indistinguishable from a crashed one's — a grace period longer than any
    * plausible write keeps live writes safe.
    */
  /** `dryRun = true` computes and returns the victim paths WITHOUT deleting
    * anything or raising the vacuum floor — Delta `VACUUM ... DRY RUN` parity,
    * the audit step before an irreversible reclaim.
    */
  def vacuum(spark: SparkSession, location: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      orphanGraceMs: Long = 24L * 3600 * 1000,
      dryRun: Boolean = false): Seq[String] = {
    val fs = fileSystem(spark, location)
    val now = System.currentTimeMillis()
    val cs = commits(spark, location)
    val dataRoot = new Path(s"$location/_data")
    if (!fs.exists(dataRoot)) return Seq.empty

    val referenced = cs.flatMap(c => new Path(dataPath(location, c)).getName +:
      (Seq(c.change_dir, c.dv_dir).filter(_.nonEmpty))).toSet
    val orphans = fs.listStatus(dataRoot).toSeq
      .filter(s => s.isDirectory && !referenced.contains(s.getPath.getName)
        && s.getModificationTime <= now - orphanGraceMs)
      .map(_.getPath)

    // a commit is out of retention iff some LATER full-state commit (overwrite or
    // compact) is itself older than the window: every as-of read that still needs
    // this commit's data targets a version from before that reset, i.e. a state the
    // table left >= retention ago. A partition-SCOPED merge is not a reset — it
    // still references earlier commits' untouched partitions — so it never expires
    // anything on its own.
    // compared at millisecond grain: commit stamps carry sub-milli precision but
    // the cutoff is epoch-millis — nano-vs-milli mixing would let a commit in the
    // cutoff's own millisecond dodge a zero-retention vacuum
    // BORROWED dirs (a shallow clone's abs: references into its source's _data
    // tree) are never reclaimed by the borrowing table — only the source's own
    // vacuum may delete them (and can, breaking the clone: Delta's documented
    // shallow-clone caveat, which [[shallowClone]] restates)
    val cutoffMs = now - retentionMs
    val expired = cs.filter { c =>
      cs.exists(o => o.version > c.version && o.isFullState &&
        parseInstant(o.timestamp).exists(_.toEpochMilli <= cutoffMs))
    }.flatMap { c =>
      val own = if (isBorrowed(c.data_dir)) Nil
        else Seq(new Path(dataPath(location, c)))
      own ++ Seq(c.change_dir, c.dv_dir).filter(d => d.nonEmpty && !isBorrowed(d))
        .map(d => new Path(s"$location/_data/$d"))
    }

    // partition-GRANULAR reclamation under scoped merges: a partition subdir
    // whose content an out-of-retention scoped merge REPLACED is dead weight —
    // without this rule, a table maintained only by scoped merges (no full
    // resets) would never free shadowed data. Only commits the merge actually
    // shadowed qualify (no full-state reset between them), and the vacuum
    // floor is raised so older as-of reads fail LOUDLY instead of silently
    // missing a partition.
    val scopedOld = cs.filter(o => o.replace_where.nonEmpty &&
      parseInstant(o.timestamp).exists(_.toEpochMilli <= cutoffMs))
    val partVictims: Seq[(Long, Path)] = scopedOld.flatMap { o =>
      cs.filter(c => c.version < o.version && !isBorrowed(c.data_dir) &&
          !cs.exists(f => f.version > c.version && f.version < o.version &&
            f.isFullState))
        .flatMap(c => o.replace_where.split(";").toSeq
          .map(spec => o.version -> new Path(s"${dataPath(location, c)}/$spec")))
    }
    val livePartVictims = partVictims.filter { case (_, p) => fs.exists(p) }

    // per-commit log files fully covered by the newest checkpoint are redundant —
    // the checkpoint preserves their bodies verbatim, so history/as-of lose nothing
    // — and so are SUPERSEDED checkpoints (strictly older than the newest).
    // (Writers never reclaim old version slots: the next claim is always
    // max(version) + 1 resolved THROUGH the checkpoint. A reader caught between
    // its listing and these deletes retries off a fresh listing — see [[commits]].)
    val logDir = new Path(s"$location/_commit_log")
    val logVictims =
      if (!fs.exists(logDir)) Seq.empty
      else {
        val entries = fs.listStatus(logDir).toSeq.filter(_.isFile)
        val ckptV = entries.flatMap(_.getPath.getName match {
          case CheckpointName(v) => Some(v.toLong)
          case _ => None
        }).maxOption
        ckptV.fold(Seq.empty[Path]) { cv =>
          entries.map(_.getPath).filter { p =>
            (p.getName.endsWith(".json") &&
              p.getName.stripSuffix(".json").toLongOption.exists(_ <= cv)) ||
            (p.getName match {
              case CheckpointName(v) => v.toLong < cv
              case _ => false
            })
          }
        }
      }

    // ingest-ledger manifests not referenced by any commit are crash debris
    // from a COPY INTO that died between manifest write and commit ([[CopyInto]]);
    // the ledger already ignores them, so reclaiming is pure hygiene. The same
    // orphan grace as staged data dirs protects an IN-FLIGHT copy (manifest
    // written, commit about to land).
    val ingestDirP = new Path(s"$location/${CopyInto.IngestDir}")
    val manifestOrphans =
      if (!fs.exists(ingestDirP)) Seq.empty
      else {
        val copySeqs = cs.filter(_.txn_app == CopyInto.TxnApp).map(_.txn_id).toSet
        fs.listStatus(ingestDirP).toSeq.filter { st =>
          // compacted ledger artifacts (compact.<C>.jsonl/.bf) are in force
          // by CONSTRUCTION (they fold referenced manifests), never orphans
          st.isFile && st.getPath.getName.endsWith(".jsonl") &&
            !st.getPath.getName.startsWith("compact.") &&
            !st.getPath.getName.startsWith("_compact.") && // pre-rename artifacts
            !st.getPath.getName.stripSuffix(".jsonl").toLongOption.exists(copySeqs) &&
            st.getModificationTime <= now - orphanGraceMs
        }.map(_.getPath)
      }

    val victims = (orphans ++ expired).filter(fs.exists) ++
      livePartVictims.map(_._2) ++ logVictims ++ manifestOrphans
    if (dryRun) return victims.map(_.toString)
    victims.foreach(p => fs.delete(p, true))
    // reads below the floor can no longer be served complete — make them loud
    val floorFromExpired =
      if (expired.isEmpty) -1L
      else cs.filter(f => f.isFullState &&
        parseInstant(f.timestamp).exists(_.toEpochMilli <= cutoffMs))
        .map(_.version).max
    val floor = math.max(floorFromExpired,
      livePartVictims.map(_._1).maxOption.getOrElse(-1L))
    if (floor >= 0) raiseVacuumFloor(fs, location, floor)
    victims.map(_.toString)
  }

  private val CheckpointName = """_checkpoint\.(\d+)\.jsonl""".r

  /** The committed log, version-ascending (driver-side metadata walk). With a
    * checkpoint present, this is ONE checkpoint read + opens of only the NEWER
    * per-commit files — O(tail) instead of O(commits) reads, which is the difference
    * between milliseconds and minutes on an object store once a streaming sink has
    * appended tens of thousands of micro-batch commits.
    *
    * A concurrent [[vacuum]] may delete a listed per-commit file between our listing
    * and its open (it was covered by a checkpoint newer than the one we listed) —
    * skipping it would silently drop that commit, so the whole walk retries against
    * a fresh listing, which necessarily sees the covering checkpoint.
    */
  /** Whether a versioned table (≥ 1 commit) exists at `location`. */
  def exists(spark: SparkSession, location: String): Boolean =
    commits(spark, location).nonEmpty

  def commits(spark: SparkSession, location: String): Seq[Commit] =
    logState(spark, location).commits

  /** One log listing's worth of table state: the parsed commits plus the
    * vacuum-floor file's status if present — the floor lives INSIDE
    * `_commit_log`, so the same listStatus that finds the commits finds it,
    * and the common no-vacuum case learns "no floor" for free instead of via
    * a separate exists probe per read.
    */
  private final case class LogState(commits: Seq[Commit],
      floorStatus: Option[org.apache.hadoop.fs.FileStatus])

  private def logState(spark: SparkSession, location: String): LogState = {
    val fs = fileSystem(spark, location)
    var attempt = 0
    while (true) {
      try return logStateOnce(fs, location)
      catch {
        case _: java.io.FileNotFoundException if attempt < 3 => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Parsed bodies of WRITE-ONCE log artifacts, cached JVM-wide keyed on
    * (path, mtime, length). Commit files and checkpoints are exclusive-create
    * and never rewritten, so a warm entry is valid forever; mtime+length ride
    * the key so a table dropped and recreated at the same location (fresh
    * `0.json`, new content) misses cleanly. An in-flight claim (created, body
    * not yet flushed) parses to None under its zero-length key and re-parses
    * when the closed body changes the key. With these caches a log resolution
    * is ONE listStatus and zero file reads in the steady state — per-op cost
    * stops scaling with the checkpoint tail, which matters at an
    * object-store's per-GET latency far more than on local disk.
    */
  private val commitFileCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Option[Commit]]()
  private val checkpointFileCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Seq[Commit]]()

  private def statKey(st: org.apache.hadoop.fs.FileStatus): (String, Long, Long) =
    (st.getPath.toString, st.getModificationTime, st.getLen)

  /** Caches are unbounded maps over ever-fresh temp tables in a long test JVM;
    * a crude size valve keeps them from masquerading as a leak. Clearing is
    * always safe — entries rebuild from disk on the next miss.
    */
  private val MaxCachedLogEntries = 200 * 1000

  private def valve(m: java.util.concurrent.ConcurrentHashMap[_, _]): Unit =
    if (m.size() > MaxCachedLogEntries) m.clear()

  /** Drop every cached log artifact and data-dir listing ([[DataDirCache]])
    * under `location` — called on table
    * create (version-0 claim) and drop, because the (path, mtime, length)
    * cache key can collide across a drop-and-recreate at the same location
    * on filesystems with second-granularity mtimes (commit lines are near
    * fixed width, so equal lengths are plausible): a fast recreate could
    * then serve the OLD table's parsed commits. Same-JVM create/drop paths
    * invalidate here; a fresh JVM starts with empty caches by construction.
    */
  private[graft] def invalidateLogCaches(location: String): Unit = {
    val prefix = new Path(location).toUri.getPath + "/"
    def purge(m: java.util.concurrent.ConcurrentHashMap[(String, Long, Long), _])
        : Unit = {
      val it = m.keySet().iterator()
      while (it.hasNext)
        if (new Path(it.next()._1).toUri.getPath.startsWith(prefix)) it.remove()
    }
    purge(commitFileCache)
    purge(checkpointFileCache)
    purge(archiveCache)
    DataDirCache.invalidate(location)
  }

  private def logStateOnce(fs: FileSystem, location: String): LogState = {
    val logDir = new Path(s"$location/_commit_log")
    // listStatus throws FNF for a missing dir — one RPC where exists+list was two
    val entries =
      try fs.listStatus(logDir).toSeq.filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => return LogState(Seq.empty, None) }
    val floorStatus = entries.find(_.getPath.getName == VacuumFloorFile)
    val ckpt = entries.flatMap(s => s.getPath.getName match {
      case CheckpointName(v) => Some((v.toLong, s))
      case _ => None
    }).sortBy(_._1).lastOption
    valve(checkpointFileCache); valve(commitFileCache)
    val base = ckpt.toSeq.flatMap { case (_, st) =>
      checkpointFileCache.computeIfAbsent(statKey(st), _ =>
        readUtf8(fs, st.getPath).linesIterator
          .flatMap(MetadataJson.decodeCommit).toSeq)
    }
    val after = ckpt.map(_._1).getOrElse(-1L)
    val tail = entries
      .filter { s =>
        val n = s.getPath.getName
        // filename IS the version — commits covered by the checkpoint are never opened
        n.endsWith(".json") &&
          n.stripSuffix(".json").toLongOption.exists(_ > after)
      }
      // a claim file created but not yet fully written (concurrent writer between
      // create and close) must block its version slot WITHOUT surfacing as a
      // commit — readers see the pre-commit state until the body lands
      .flatMap(st => commitFileCache.computeIfAbsent(statKey(st), _ =>
        MetadataJson.decodeCommit(readUtf8(fs, st.getPath))))
    LogState((base ++ tail).sortBy(_.version), floorStatus)
  }

  /** Consolidate the full log into `_commit_log/_checkpoint.<latest>.jsonl` (one
    * commit per line — same bodies the per-commit files hold). Readers then open the
    * newest checkpoint plus only newer commit files. Concurrent checkpointers are
    * harmless: content for a given version is deterministic (commits are immutable
    * once claimed) and the exclusive create makes one writer win. Writers trigger
    * this automatically every [[CheckpointInterval]] commits; call it directly after
    * bulk maintenance if desired. Returns the checkpointed version.
    */
  def checkpoint(spark: SparkSession, location: String): Option[Long] = {
    val cs = commits(spark, location)
    if (cs.isEmpty) return None
    val fs = fileSystem(spark, location)
    val v = cs.last.version
    val path = new Path(s"$location/_commit_log/_checkpoint.$v.jsonl")
    // losing this race is fine — the winner wrote the same version's checkpoint
    atomicCreate(fs, path,
      cs.map(MetadataJson.encodeCommit).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
    Some(v)
  }

  /** Auto-checkpoint cadence (Delta defaults to every 10 commits). */
  val CheckpointInterval = 10

  /** Best-effort post-commit checkpoint: a failure here must not fail the write the
    * caller already committed — the next interval (or an explicit call) retries.
    */
  private def maybeCheckpoint(spark: SparkSession, location: String,
      committed: Long): Unit =
    if ((committed + 1) % CheckpointInterval == 0)
      try checkpoint(spark, location)
      catch { case scala.util.control.NonFatal(_) => () }

  private[catalog] def readUtf8(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Exclusive-create the commit file; false iff another writer claimed the version.
    * Any OTHER I/O failure (permissions, quota, connectivity) propagates — retrying
    * the claim could not succeed and must not loop.
    */
  private def claimCommit(fs: FileSystem, location: String, version: Long,
      operation: String, rows: Long, dataDir: String,
      partitionBy: Seq[String], stats: Map[String, (Double, Double)] = Map.empty,
      txnApp: String = "", txnId: Long = -1L, changeDir: String = "",
      replaceWhere: String = "", replacedRows: Long = 0L,
      dvDir: String = "",
      sstats: Map[String, (String, String)] = Map.empty,
      nulls: Map[String, Long] = Map.empty,
      schemaJson: String = ""): Boolean = {
    val path = new Path(s"$location/_commit_log/$version.json")
    fs.mkdirs(path.getParent)
    val c = Commit(version, operation, Instant.now().toString, rows, dataDir,
      partitionBy.mkString(","), txnApp, txnId, stats, changeDir,
      replaceWhere, replacedRows, dvDir, sstats, nulls, schemaJson)
    // a version-0 claim IS table creation: purge any cached artifacts a
    // previous table at this location left behind (drop-and-recreate)
    if (version == 0L) invalidateLogCaches(location)
    atomicCreate(fs, path,
      MetadataJson.encodeCommit(c).getBytes(StandardCharsets.UTF_8))
  }

  /** Exclusive-create of the commit file, atomic per filesystem — the one primitive
    * the whole protocol rests on, and exactly why Delta has a per-FS LogStore:
    * `fs.create(path, overwrite = false)` is atomic on HDFS (namenode-arbitrated)
    * but on the LOCAL filesystem it is exists-check-then-open — two racers in the
    * window both "win" and one silently overwrites the other's commit. For local
    * paths we go through NIO's CREATE_NEW (O_EXCL — kernel-atomic) instead.
    * Returns false iff the version was already claimed.
    */
  private[catalog] def atomicCreate(fs: FileSystem, path: Path, bytes: Array[Byte]): Boolean =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val p = java.nio.file.Paths.get(path.toUri.getPath)
        try {
          val out = java.nio.file.Files.newOutputStream(p,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          try out.write(bytes) finally out.close()
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case _ =>
        try {
          val out = fs.create(path, false)
          try out.write(bytes) finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
    }

  /** Directory references beginning with this prefix are ABSOLUTE paths into
    * another table's `_data` tree — how [[shallowClone]] borrows the source's
    * files without copying. Borrowed dirs are never vacuum-reclaimed by the
    * borrowing table ([[ownedDataDirs]]).
    */
  private val AbsRef = "abs:"

  private def isBorrowed(dir: String): Boolean = dir.startsWith(AbsRef)

  // pre-data_dir logs (legacy layout) stored data at _data/v=<N>
  private def dataPath(location: String, c: Commit): String =
    if (isBorrowed(c.data_dir)) c.data_dir.stripPrefix(AbsRef)
    else if (c.data_dir.nonEmpty) s"$location/_data/${c.data_dir}"
    else s"$location/_data/v=${c.version}"

  private def dvPath(location: String, c: Commit): String =
    if (isBorrowed(c.dv_dir)) c.dv_dir.stripPrefix(AbsRef)
    else s"$location/_data/${c.dv_dir}"

  private[graft] def parseInstant(s: String): Option[Instant] =
    try Some(Instant.parse(s)) catch { case _: java.time.format.DateTimeParseException => None }

  private[catalog] def fileSystem(spark: SparkSession, location: String): FileSystem =
    new Path(location).getFileSystem(spark.sessionState.newHadoopConf())
}
