package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.execution.datasources._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}

/** The listings of table-owned `_data/<dir>` roots, shared by every read in the
  * JVM. A data dir is write-once once the commit naming it is claimed — writers
  * stage into writer-unique dirs and never touch a claimed one — so a listing
  * never goes stale. A staged write hands its files over as it commits
  * ([[StagedWrite]]) and a dir read cold is taken from its file manifest, so
  * only a dir written without one (a legacy commit) is ever listed, at most
  * once per JVM. Schemas inferred for legacy commits (no recorded schema) are
  * kept here too, keyed by the roots they were inferred over. [[invalidate]] drops a location's entries
  * on table create and drop, where a legacy `v=<N>` dir name can come back
  * holding other files. Bounded: past [[MaxFiles]] held file statuses the least
  * recently used listings go first.
  */
object DataDirCache extends FileStatusCache {
  private val MaxFiles = 200L * 1000
  private val MaxSchemas = 1024
  private val listings =
    new java.util.LinkedHashMap[Path, Array[FileStatus]](16, 0.75f, true)
  private var held = 0L
  private val schemas = new java.util.concurrent.ConcurrentHashMap[Seq[ScanRoot], StructType]()

  override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
    synchronized(Option(listings.get(path)))

  override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = synchronized {
    Option(listings.put(path, files)).foreach(old => held -= old.length)
    held += files.length
    val it = listings.values().iterator()
    while (held > MaxFiles && it.hasNext) { held -= it.next().length; it.remove() }
  }

  override def invalidateAll(): Unit = synchronized {
    listings.clear(); held = 0L; schemas.clear()
  }

  /** Take each of `roots` not held yet from its staged-write manifest; a root
    * without one is left to the listing.
    */
  def seed(conf: Configuration, roots: Seq[Path]): Unit =
    for (r <- roots if getLeafFiles(r).isEmpty;
         files <- StagedWrite.manifested(r.getFileSystem(conf), r))
      putLeafFiles(r, files.toArray)

  /** Drop every listing and inferred schema under `location`. */
  def invalidate(location: String): Unit = synchronized {
    val prefix = new Path(location).toUri.getPath + "/"
    def under(p: Path) = p.toUri.getPath.startsWith(prefix)
    val it = listings.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (under(e.getKey)) { held -= e.getValue.length; it.remove() }
    }
    schemas.keySet().removeIf(_.exists(r => under(r.root)))
  }

  private[catalog] def inferredSchema(roots: Seq[ScanRoot])(infer: => StructType)
      : StructType = {
    if (schemas.size > MaxSchemas) schemas.clear()
    Option(schemas.get(roots)).getOrElse {
      val s = infer
      schemas.put(roots, s)
      s
    }
  }
}

/** One commit's share of a scan: its qualified data root, the paths listed
  * under it (the root itself, or the files a per-file-stats prune kept), and
  * the partitions later scoped merges shadowed in it.
  */
private[catalog] final case class ScanRoot(root: Path, paths: Seq[Path],
    shadowed: Seq[Seq[(String, String)]] = Nil)

/** A file index resolved from the commit log: the live commits name the roots,
  * [[DataDirCache]] serves their files, and nothing is read until Spark
  * plans the scan — a read that only wants the schema lists nothing. Partitions
  * a later scoped merge shadowed are left out of the partition spec, so one scan
  * serves a partitioned table of any number of commits. Equal by its roots and
  * partition schema, like Spark's own index is equal by its paths, so two reads
  * of one snapshot still match for caching and exchange reuse.
  */
private[catalog] final case class LogFileIndex(roots: Seq[ScanRoot],
    declaredPartitions: Option[StructType])(spark: SparkSession) extends FileIndex {

  override def rootPaths: Seq[Path] = roots.flatMap(_.paths)

  private lazy val index: InMemoryFileIndex = {
    DataDirCache.seed(spark.sessionState.newHadoopConf(), roots.map(_.root))
    // the commit roots are the partition base paths; Spark's check that all
    // leaf dirs share ONE base path is what `ignoreInvalidPartitionPaths` lifts
    val listed = new InMemoryFileIndex(spark, roots.map(_.root),
      Map("ignoreInvalidPartitionPaths" -> "true"), declaredPartitions,
      DataDirCache, None)
    val spec = listed.partitionSpec()
    for (d <- declaredPartitions if d.nonEmpty && spec.partitionColumns.nonEmpty)
      require(d.fieldNames.map(_.toLowerCase).toSeq ==
          spec.partitionColumns.fieldNames.map(_.toLowerCase).toSeq,
        s"partition dirs (${spec.partitionColumns.fieldNames.mkString(",")}) do " +
          s"not follow the logged layout (${d.fieldNames.mkString(",")})")
    val live = spec.partitions.filterNot(shadowed(spec.partitionColumns, _))
    if (live.size == spec.partitions.size && roots.forall(r => r.paths == Seq(r.root)))
      listed
    else {
      // pruned commits list their kept files: seed those from the roots' listing
      val byPath = listed.allFiles().map(f => f.getPath -> f).toMap
      for (r <- roots; p <- r.paths if p != r.root; f <- byPath.get(p))
        DataDirCache.putLeafFiles(p, Array(f))
      new InMemoryFileIndex(spark, rootPaths, Map.empty, None, DataDirCache,
        Some(spec.copy(partitions = live)))
    }
  }

  private def shadowed(cols: StructType, p: PartitionPath): Boolean = {
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    roots.find(r => p.path.toString.startsWith(r.root.toString + "/"))
      .exists(_.shadowed.exists(_.forall { case (k, v) =>
        val i = cols.fieldNames.indexWhere(_.equalsIgnoreCase(k))
        i >= 0 && !p.values.isNullAt(i) && p.values.get(i, cols(i).dataType) ==
          Cast(Literal(v), cols(i).dataType, tz).eval()
      }))
  }

  /** The files the scan reads: shadowed partitions excluded. */
  lazy val allFiles: Seq[FileStatusWithMetadata] = listFiles(Nil, Nil).flatMap(_.files)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    index.listFiles(partitionFilters, dataFilters)
  override def inputFiles: Array[String] = allFiles.map(_.getPath.toUri.toString).toArray
  override def sizeInBytes: Long = allFiles.map(_.getLen).sum
  override def partitionSchema: StructType =
    declaredPartitions.getOrElse(index.partitionSchema)
  // every root is write-once: there is nothing to refresh
  override def refresh(): Unit = ()
}

private[catalog] object LogFileIndex {

  def root(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p)
  }

  /** A write-once dir read whole. */
  def dir(spark: SparkSession, path: String): ScanRoot = {
    val r = root(spark, path)
    ScanRoot(r, Seq(r))
  }

  /** One dir read whole: a [[scan]] of the single root `path`. */
  def scanDir(spark: SparkSession, path: String, partitionColumns: Seq[String] = Nil,
      schema: Option[StructType] = None): DataFrame =
    scan(spark, Seq(dir(spark, path)), partitionColumns, schema)

  /** One parquet scan of `roots` over a [[LogFileIndex]]. `schema` is the full
    * read schema, partition columns included, when the log records it; None
    * keeps the `mergeSchema` inference, run once over the index's files.
    */
  def scan(spark: SparkSession, roots: Seq[ScanRoot], partitionColumns: Seq[String],
      schema: Option[StructType]): DataFrame = {
    val declared = schema.flatMap { s =>
      val fs = partitionColumns.flatMap(p => s.find(_.name.equalsIgnoreCase(p)))
      if (fs.size == partitionColumns.size) Some(StructType(fs)) else None
    }
    val index = LogFileIndex(roots, declared)(spark)
    val dataSchema = schema.getOrElse(DataDirCache.inferredSchema(roots) {
      val inferred = new ParquetFileFormat().inferSchema(spark,
        Map("mergeSchema" -> "true"), index.allFiles.map(_.fileStatus))
      StructType(inferred.getOrElse(throw new IllegalStateException(
        s"no parquet files to infer a schema from under ${roots.map(_.root).mkString(", ")}"))
        .map(_.copy(nullable = true)))
    })
    val parts = index.partitionSchema
    def isPart(f: StructField) = parts.exists(_.name.equalsIgnoreCase(f.name))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, parts,
      StructType(dataSchema.filterNot(isPart)), None, new ParquetFileFormat,
      Map.empty)(spark))
  }
}
