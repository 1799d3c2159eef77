package graft.catalog

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}

/** `COPY INTO` — idempotent, file-granular bulk ingest into a versioned table
  * (the batch verb of Delta/Snowflake's `COPY INTO`): load every file under a
  * source directory that has NOT been loaded before as ONE append commit, and
  * remember the loaded files so re-running the same command is a metadata-only
  * no-op. The ledger carrying that memory is crash-safe BY REFERENCE:
  *
  *   - each run exclusive-creates an immutable manifest `_ingest/<seq>.jsonl`
  *     listing the files it is about to load (a name is never reused),
  *   - the data lands through [[VersionedTable.idempotentAppend]] tagged
  *     `(txn_app = "graft.copy_into", txn_id = <seq>)`,
  *   - a manifest is IN FORCE iff some commit carries its seq. A crash between
  *     manifest write and commit leaves an unreferenced manifest the ledger
  *     ignores ([[VersionedTable.vacuum]] reclaims it after the orphan grace);
  *     the retry re-ingests those files under a FRESH seq — nothing lost,
  *     nothing duplicated. The reverse order (commit first) would instead
  *     leave a committed batch the ledger forgot, double-loading on retry.
  *
  * Ingest writers serialize on a dedicated `_ingest_lock` (NOT the DDL lock:
  * identity-column appends take the DDL lock inside
  * [[VersionedTable.idempotentAppend]], and the file lock is non-reentrant),
  * so two concurrent COPY runs cannot double-load a file — the loser
  * recomputes the ledger after the winner's commit is visible. Readers never
  * touch `_ingest/`.
  *
  * Schema contract (refuse, don't drift): the TABLE is the authority. Source
  * columns align by case-insensitive NAME and cast to the table's types
  * (ANSI mode — a malformed value fails the load instead of becoming NULL); a
  * source column the table lacks refuses loudly, as does a missing table
  * column that isn't generated / identity-assigned (those are computed by the
  * landing write). CSV reads header-named all-string columns by default
  * (`header=true`) and rides the same cast. The append takes the normal
  * staged-write path, so CHECK constraints, generated columns, identity
  * assignment, and the declared hive partitioning all apply exactly as if the
  * rows were written by hand — a constraint violation aborts the whole run
  * with the ledger untouched, and the fixed files load cleanly on retry.
  *
  * At 100 TB: each run costs one LIST of the source glob plus one driver-side
  * read of the in-force manifests (bounded by the number of COPY runs, not
  * files — each run's files share one manifest), then a distributed ingest of
  * ONLY the new files. Steady-state re-runs with nothing new are pure
  * metadata; the ledger never rewrites.
  *
  * LEDGER GROWTH PATH (so re-run cost stays flat at 10⁴+ COPY runs): once a
  * run has to read more than [[CompactThreshold]] in-force manifests, it
  * folds them into one immutable COMPACTED artifact pair —
  * `_ingest/compact.<C>.jsonl` (the union of every referenced manifest with
  * seq ≤ C, one sorted path per line-entry) and `compact.<C>.bf` (a bloom
  * over those paths). NO leading underscore: Spark's file sources filter
  * `_`-prefixed paths as hidden even when named directly, and the
  * distributed maybe-hit resolution below reads the body as a dataset —
  * `_ingest/` itself is never touched by data scans, so the name carries no
  * hiding duty. Later runs read: the bloom (KBs), the per-run tail manifests
  * newer than C (< threshold of them), and the compact BODY only when some
  * candidate bloom-hits outside the tail — so the common incremental-landing
  * pattern (every candidate file is new) never reads the big body at all,
  * and a full no-op re-run reads exactly one. Referenced-ness is immutable
  * per seq (a crash orphan's seq is never reused — fresh seqs go strictly
  * up), so a compact artifact is correct forever; the bloom lands BEFORE the
  * jsonl so a crash between the two leaves a harmless orphan bloom rather
  * than a compact without its fast path. Bodies past
  * [[MaxDriverCompactBytes]] resolve maybe-hits DISTRIBUTED: the
  * (listing-sized) candidate set broadcasts against the body scanned as a
  * dataset — one semi-join, no driver materialization of the ledger.
  *
  * The reference lands externally-arriving order files into the lake
  * exactly-once from a watched location (ingestion/s3-orders-ingestion.py) —
  * COPY INTO is that contract as an on-demand batch verb instead of a stream.
  */
object CopyInto {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private[catalog] val IngestDir = "_ingest"
  private[catalog] val TxnApp = "graft.copy_into"

  /** Fold the manifest tail into a compact artifact once a run reads more
    * than this many; re-run ledger reads then stay O(threshold), not O(runs).
    */
  private[graft] val CompactThreshold = 16
  /** Low enough that a directory of genuinely-new files essentially never
    * false-positives into reading the compact body (the bloom is per-PATH;
    * even 10⁶ candidates expect ~10 spurious body reads per year of runs).
    */
  private val CompactFpp = 1e-5
  private[catalog] val CompactName = """compact\.(\d+)\.jsonl""".r

  /** Compact bodies at or under this size resolve maybe-hits (and fold) with a
    * driver-side exact set; past it, resolution switches to the distributed
    * semi-join (candidates broadcast against the ledger scan) and the fold is
    * deferred — the driver never materializes an unbounded path set. Test
    * hook: specs shrink it to force the distributed path on small fixtures.
    */
  private[graft] var MaxDriverCompactBytes: Long = 64L * 1024 * 1024

  /** Which resolution path the last maybe-hit took ("driver" |
    * "distributed") — observability for CopyIntoSpec; not part of the API.
    */
  @volatile private[graft] var lastCompactResolve: String = ""

  private def readBloom(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Option[org.apache.spark.util.sketch.BloomFilter] =
    try {
      val in = fs.open(p)
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `version` is None when no new files matched (no commit was written).
    * `filesQuarantined` counts matched source files SKIPPED because their
    * path contains a control character: COPY INTO never loads such a file,
    * on any run, until it is renamed. It is a programmatic signal (the skip
    * also log.warns per file) so pipelines can alert on persistently
    * quarantined files instead of scraping logs.
    */
  final case class CopyResult(version: Option[Long], filesLoaded: Long,
      rowsLoaded: Long, filesQuarantined: Long = 0L)

  private val GlobChars = Set('*', '?', '[', '{')

  /** Load the not-yet-ingested files under `source` into the table at
    * `location`. `source` is a directory (listed non-recursively; `pattern`
    * optionally globs file names within it, default `*`) or itself a glob.
    * `force = true` re-loads every matched file regardless of the ledger —
    * the re-loaded files are appended again (duplicate rows), exactly
    * Delta's COPY_OPTIONS force contract. Dotfiles and `_`-prefixed files
    * (`_SUCCESS` and friends) are never candidates.
    */
  def copyInto(spark: SparkSession, location: String, source: String,
      format: String = "parquet", options: Map[String, String] = Map.empty,
      pattern: String = "", force: Boolean = false): CopyResult = {
    require(VersionedTable.exists(spark, location),
      s"COPY INTO requires an existing table at $location — create it first " +
        "(the table schema is the authority the loaded files are cast to)")
    VersionedTable.withFileLock(spark, location, "_ingest_lock") {
      copyBody(spark, location, source, format, options, pattern, force)
    }
  }

  private def copyBody(spark: SparkSession, location: String, source: String,
      format: String, options: Map[String, String], pattern: String,
      force: Boolean): CopyResult = {
    val fs = VersionedTable.fileSystem(spark, location)
    val sourceIsGlob = source.exists(GlobChars)
    require(pattern.isEmpty || !sourceIsGlob,
      "COPY INTO: pass the glob in `source` OR in `pattern`, not both")
    val src = new Path(source)
    // a typo'd plain directory must refuse, not silently load nothing; a glob
    // source may legitimately match nothing (files not arrived yet) → no-op
    if (!sourceIsGlob) require(fs.exists(src),
      s"COPY INTO source does not exist: $source")
    val glob =
      if (sourceIsGlob) src
      else if (fs.getFileStatus(src).isDirectory)
        new Path(src, if (pattern.nonEmpty) pattern else "*")
      else src
    val listed = Option(fs.globStatus(glob)).map(_.toSeq).getOrElse(Seq.empty)
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }

    val referenced = VersionedTable.commits(spark, location)
      .filter(_.txn_app == TxnApp).map(_.txn_id).toSet
    val ingestDir = new Path(s"$location/$IngestDir")
    val entries =
      if (fs.exists(ingestDir)) fs.listStatus(ingestDir).toSeq.filter(_.isFile)
      else Seq.empty
    val manifests = entries.filter(st =>
      st.getPath.getName.endsWith(".jsonl") &&
        !st.getPath.getName.startsWith("compact."))
    def seqOf(st: FileStatus): Option[Long] =
      st.getPath.getName.stripSuffix(".jsonl").toLongOption
    // newest compacted ledger artifact, if any (immutably correct: the set of
    // referenced manifests with seq <= C can never change after C's creation)
    val compactC = entries.flatMap(st => st.getPath.getName match {
      case CompactName(c) => Some(c.toLong)
      case _ => None
    }).maxOption

    // ledger comparisons use the FULLY-QUALIFIED form: the same file listed
    // under /landing and file:/landing across runs must still dedupe
    def qualified(st: FileStatus): String =
      fs.makeQualified(st.getPath).toString

    // the rule: a file whose path holds a control character (a newline is
    // legal on POSIX) is never loaded. It is skipped at candidate time rather
    // than aborting the run — throwing would make ONE badly-named file a
    // poison pill blocking every other file's ingestion until a manual
    // rename — and warns on every run until renamed.
    val (loadable, quarantined) =
      listed.partition(st => !qualified(st).exists(_ < ' '))
    quarantined.foreach { st =>
      log.warn("COPY INTO: SKIPPING source file whose path contains a " +
        "control character (such files are never loaded) — rename it to " +
        s"ingest: ${qualified(st).map(c => if (c < ' ') f"\\u$c%04x" else c.toString).mkString}")
    }

    // in-force manifests NOT covered by the compact artifact — the per-run tail
    val tail = manifests.filter(st =>
      seqOf(st).exists(s => referenced(s) && compactC.forall(s > _)))
    val tailLoaded: Set[String] =
      tail.flatMap(st => manifestPaths(fs, st.getPath)).toSet

    // resolve candidates against (tail ∪ compact), reading the compact BODY
    // only when the bloom cannot rule every remaining candidate out
    lazy val compactBody: Set[String] = compactC.fold(Set.empty[String])(c =>
      manifestPaths(fs, new Path(ingestDir, f"compact.$c%06d.jsonl")).toSet)
    val fresh =
      if (force) loadable
      else compactC match {
        case None => loadable.filterNot(st => tailLoaded(qualified(st)))
        case Some(c) =>
          val candidates = loadable.filterNot(st => tailLoaded(qualified(st)))
          readBloom(fs, new Path(ingestDir, f"compact.$c%06d.bf")) match {
            case Some(bf) if candidates.forall(st =>
                !bf.mightContainString(qualified(st))) =>
              candidates // every candidate provably new: big body never read
            case _ =>
              val body = new Path(ingestDir, f"compact.$c%06d.jsonl")
              val bodyLen = entries.find(_.getPath.getName == body.getName)
                .map(_.getLen).getOrElse(0L)
              if (bodyLen <= MaxDriverCompactBytes) {
                lastCompactResolve = "driver"
                candidates.filterNot(st => compactBody(qualified(st)))
              } else {
                // GROWTH PATH: a compact body past the driver threshold
                // (~10⁸ path strings) never materializes as a driver set.
                // The candidate list is directory-listing-sized (already
                // driver-resident), so BROADCAST it against the streaming
                // ledger scan: one semi-join yields the already-ingested
                // subset, bounded by the candidate count — exactly-once
                // resolution at any ledger size, no shuffle, no wide collect.
                lastCompactResolve = "distributed"
                val spark2 = spark
                import spark2.implicits._
                val candPaths = candidates.map(qualified)
                val ingested = spark.read.schema("path STRING")
                  .json(body.toString)
                  .select(col("path"))
                  .join(org.apache.spark.sql.functions.broadcast(
                    candPaths.toDF("path")), Seq("path"), "left_semi")
                  .as[String].collect().toSet
                candidates.filterNot(st => ingested(qualified(st)))
              }
          }
      }

    // fold an over-long tail into a fresh compact pair for FUTURE runs
    // (under the ingest lock, so single-writer). Two regimes:
    //  - body within the driver threshold: the run already holds the exact
    //    sets — fold driver-side, zero extra reads.
    //  - body past the threshold: fold DISTRIBUTED — (old body as a dataset)
    //    ∪ (tail paths), distinct, bloom built by df.stat.bloomFilter
    //    (aggregated on executors; the driver holds only the final bits,
    //    ~180 MB at 10⁸ paths @ 1e-5), body written as one staged text file
    //    renamed into place. A crash leaves tmp debris under a dot-dir the
    //    ledger never reads.
    if (tail.length > CompactThreshold) {
      val newC = tail.flatMap(seqOf).max
      val compactLen = compactC.map(c =>
        new Path(ingestDir, f"compact.$c%06d.jsonl")).flatMap(p =>
        entries.find(_.getPath.getName == p.getName).map(_.getLen)).getOrElse(0L)
      if (compactLen <= MaxDriverCompactBytes) {
        val all = (compactBody ++ tailLoaded).toSeq.sorted
        val bf = org.apache.spark.util.sketch.BloomFilter
          .create(math.max(all.size.toLong, 1L), CompactFpp)
        all.foreach(bf.putString)
        val bfOut = new java.io.ByteArrayOutputStream()
        bf.writeTo(bfOut)
        // bloom first: a crash between the two leaves an orphan bloom
        // (ignored), never a compact running without its fast path
        VersionedTable.atomicCreate(fs,
          new Path(ingestDir, f"compact.$newC%06d.bf"), bfOut.toByteArray)
        VersionedTable.atomicCreate(fs,
          new Path(ingestDir, f"compact.$newC%06d.jsonl"),
          all.map(p => MetadataJson.obj(_.writeStringField("path", p)))
            .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      } else {
        val spark2 = spark
        import spark2.implicits._
        val oldBody = spark.read.schema("path STRING")
          .json(new Path(ingestDir, f"compact.${compactC.get}%06d.jsonl").toString)
          .select(col("path"))
        val union = oldBody.union(tailLoaded.toSeq.toDF("path")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val items = union.count()
          val bf = union.stat.bloomFilter("path",
            math.max(items, 1L), CompactFpp)
          val bfOut = new java.io.ByteArrayOutputStream()
          bf.writeTo(bfOut)
          VersionedTable.atomicCreate(fs,
            new Path(ingestDir, f"compact.$newC%06d.bf"), bfOut.toByteArray)
          // one staged text file, renamed into place; sorted for
          // determinism and locality
          val staged = new Path(ingestDir,
            s".compact-stage-${java.util.UUID.randomUUID()}")
          union.orderBy("path").select(to_json(struct(col("path"))).as("value"))
            .coalesce(1).write.text(staged.toString)
          val part = fs.listStatus(staged).map(_.getPath)
            .find(_.getName.startsWith("part-"))
            .getOrElse(throw new IllegalStateException(
              s"staged compact fold wrote no part file under $staged"))
          val dest = new Path(ingestDir, f"compact.$newC%06d.jsonl")
          // a false return (name collision, quota, object-store copy failure)
          // must NOT reach the delete below — the staged part is the only
          // copy of the folded body (the orphan bloom alone would silently
          // under-report ingested files and double-load on the next run)
          if (!fs.rename(part, dest)) throw new IllegalStateException(
            s"COPY INTO: compact fold rename failed: $part -> $dest")
          fs.delete(staged, true)
        } finally union.unpersist()
      }
    }

    if (fresh.isEmpty)
      return CopyResult(None, 0L, 0L, quarantined.size.toLong)

    // read + align BEFORE the manifest lands: a schema refusal or malformed
    // file must leave no ledger trace (analysis here; execution in the append)
    val batch = aligned(spark, location, fresh.map(_.getPath.toString),
      format, options)

    // fresh seq above every existing manifest AND referenced commit — crash
    // orphans hold their names, so the bump loop below cannot spin in practice
    var seq = (manifests.flatMap(seqOf) ++ referenced).maxOption.getOrElse(-1L) + 1
    fs.mkdirs(ingestDir)
    val body = fresh.map(st => MetadataJson.obj { g =>
      g.writeStringField("path", qualified(st))
      g.writeNumberField("size", st.getLen)
      g.writeNumberField("mtime", st.getModificationTime)
    }).mkString("", "\n", "\n")
    while (!VersionedTable.atomicCreate(fs, new Path(ingestDir, f"$seq%06d.jsonl"),
        body.getBytes(StandardCharsets.UTF_8))) seq += 1

    val version = VersionedTable.idempotentAppend(batch, location, TxnApp, seq,
      VersionedTable.declaredPartitioning(spark, location))
    val rows = version.flatMap(v => VersionedTable.commits(spark, location)
      .find(_.version == v).map(_.row_count)).getOrElse(0L)
    CopyResult(version, fresh.size.toLong, rows, quarantined.size.toLong)
  }

  /** The file paths a manifest records: the `path` field of each line. */
  private[catalog] def manifestPaths(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Seq[String] =
    VersionedTable.readUtf8(fs, p).linesIterator
      .flatMap(line => MetadataJson.parse(line).flatMap(n => Option(n.get("path"))))
      .map(_.asText).toSeq

  /** Read `paths` with `format` and project them onto the table's schema:
    * case-insensitive name alignment, table-ordered output, one cast per
    * column. Generated and identity columns may be absent (the landing write
    * computes them); anything else missing, or any extra source column,
    * refuses loudly.
    */
  private def aligned(spark: SparkSession, location: String,
      paths: Seq[String], format: String,
      options: Map[String, String]): DataFrame = {
    val fmt = format.trim.toLowerCase
    require(Set("parquet", "csv", "json", "avro").contains(fmt),
      s"COPY INTO: unsupported format '$format' — parquet, csv, json, avro")
    val reader = spark.read.options(options)
    val raw = fmt match {
      case "csv" =>
        // header-named all-string columns; the cast below applies the table's
        // types (explicit schema would bind CSV columns positionally instead)
        reader.option("header", options.getOrElse("header", "true"))
          .csv(paths: _*)
      case "json"  => reader.json(paths: _*)
      case "avro"  => reader.format("avro").load(paths: _*)
      case _       => reader.parquet(paths: _*)
    }
    val target = VersionedTable.read(spark, location).schema
    val computed =
      VersionedTable.generatedColumns(spark, location).keySet.map(_.toLowerCase) ++
        VersionedTable.identitySpec(spark, location).map(_.name.toLowerCase)
    val tByLower = target.fields.map(f => f.name.toLowerCase -> f).toMap
    val extra = raw.schema.fieldNames.filterNot(n => tByLower.contains(n.toLowerCase))
    require(extra.isEmpty,
      s"COPY INTO: source carries columns the table lacks: ${extra.mkString(", ")} " +
        "— drop them from the files or ALTER TABLE ADD COLUMNS first")
    val srcByLower = raw.schema.fieldNames.map(n => n.toLowerCase -> n).toMap
    val missing = target.fields.map(_.name).filterNot(n =>
      srcByLower.contains(n.toLowerCase) || computed(n.toLowerCase))
    require(missing.isEmpty,
      s"COPY INTO: source is missing table columns: ${missing.mkString(", ")} " +
        "(only generated/identity columns may be absent — the write computes those)")
    val cols = target.fields.toSeq
      .filter(f => srcByLower.contains(f.name.toLowerCase))
      .map(f => col(s"`${srcByLower(f.name.toLowerCase)}`").cast(f.dataType)
        .as(f.name))
    raw.select(cols: _*)
  }
}
