package graft.catalog

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.internal.SQLConf

/** The session's file commit protocol. A write into a dir that [[StagedWrite]]
  * registered on the driver is DIRECT: tasks write straight into the staged
  * dir, which no reader sees until the log claim names it, so there is no
  * `_temporary` dir, no task- or job-commit rename, no `_SUCCESS` marker and
  * no `.crc` sidecar. Each task commit message carries its files' (relative
  * path, length); the job commit writes them as the dir's manifest
  * ([[StagedWrite.ManifestName]]). Readers serve only the files the manifest
  * names, so a file a failed or speculative attempt left behind is never read.
  * Every other write is Spark's own protocol, unchanged.
  */
class StagedCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {

  // decided on the driver when Spark instantiates the protocol; tasks get the flag
  private val direct = !dynamicPartitionOverwrite && StagedWrite.isStaged(path)
  @transient private var written: ArrayBuffer[String] = _

  private def root = new Path(path)

  override def setupJob(job: JobContext): Unit = if (!direct) super.setupJob(job)

  override def setupTask(task: TaskAttemptContext): Unit =
    if (!direct) super.setupTask(task)
    else {
      written = ArrayBuffer.empty
      // the staged dir is claimed whole or never: a checksum sidecar per file
      // guards nothing the log does not, so this task's `file:` writes go
      // through an uncached raw filesystem (the task's conf is its own copy)
      if (root.toUri.getScheme == "file") {
        val conf = task.getConfiguration
        conf.setClass("fs.file.impl", classOf[RawLocalFileSystem], classOf[FileSystem])
        conf.setBoolean("fs.file.impl.disable.cache", true)
      }
    }

  override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String =
    if (!direct) super.newTaskTempFile(task, dir, spec)
    else {
      // the dir is unique to this write and Spark numbers task attempts
      // uniquely across the application, so the attempt names a file without
      // a job UUID; an attempt's first file needs no `c000` counter either
      val name = s"${spec.prefix}part-${task.getTaskAttemptID.getId}" +
        spec.suffix.replaceFirst("^[.-]c000\\.", ".")
      val rel = dir.fold(name)(d => s"$d/$name")
      written += rel
      new Path(root, rel).toString
    }

  override def newTaskTempFileAbsPath(task: TaskAttemptContext, absoluteDir: String,
      spec: FileNameSpec): String =
    if (!direct) super.newTaskTempFileAbsPath(task, absoluteDir, spec)
    else throw new UnsupportedOperationException(
      s"a staged write takes no custom partition location ($absoluteDir)")

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage =
    if (!direct) super.commitTask(task)
    else {
      val fs = root.getFileSystem(task.getConfiguration)
      new TaskCommitMessage(written.toSeq.map(rel =>
        rel -> fs.getFileStatus(new Path(root, rel)).getLen))
    }

  override def abortTask(task: TaskAttemptContext): Unit =
    if (!direct) super.abortTask(task)
    else if (written != null) {
      val fs = root.getFileSystem(task.getConfiguration)
      written.foreach(rel =>
        try fs.delete(new Path(root, rel), false) catch { case NonFatal(_) => () })
    }

  override def commitJob(job: JobContext, commits: Seq[TaskCommitMessage]): Unit =
    if (!direct) super.commitJob(job, commits)
    else StagedWrite.committed(path, job.getConfiguration,
      commits.flatMap(_.obj.asInstanceOf[Seq[(String, Long)]]))

  // a failed direct write is cleaned up by its StagedWrite.parquet call,
  // which deletes the whole dir
  override def abortJob(job: JobContext): Unit = if (!direct) super.abortJob(job)
}

/** Parquet writes into table-owned `_data/<dir>` dirs through the direct path of
  * [[StagedCommitProtocol]], and the manifest that names what they wrote.
  */
private[graft] object StagedWrite {

  /** The `_`-prefixed manifest of a staged dir: parquet readers skip it, and a
    * lost commit race or vacuum deletes it with the dir.
    */
  val ManifestName = "_files.json.deflate"

  private val ProtocolKey = SQLConf.FILE_COMMIT_PROTOCOL_CLASS.key

  // staged dirs being written (qualified path) -> the files their job committed
  private val pending = new ConcurrentHashMap[String, AtomicReference[Seq[FileStatus]]]()

  private[catalog] def isStaged(path: String): Boolean = pending.containsKey(path)

  /** Make [[StagedCommitProtocol]] the session's commit protocol, unless the
    * session already names one — a user-set protocol is left alone, and its
    * staged writes keep the listed layout.
    */
  def install(spark: SparkSession): Unit =
    if (!spark.sessionState.conf.contains(ProtocolKey))
      spark.conf.set(ProtocolKey, classOf[StagedCommitProtocol].getName)

  /** Write `df` as parquet into the fresh staged dir `dir`. Returns the files
    * written, also handed to [[DataDirCache]]; None when a user-set commit
    * protocol wrote the dir, which readers then list. A failed write deletes
    * the dir.
    */
  def parquet(df: DataFrame, dir: String, partitionBy: Seq[String] = Nil)
      : Option[Seq[FileStatus]] = {
    val spark = df.sparkSession
    install(spark)
    val root = LogFileIndex.root(spark, dir)
    val files = new AtomicReference[Seq[FileStatus]]()
    pending.put(root.toString, files)
    try {
      val w = df.write.mode("errorifexists")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(root.toString)
    } catch {
      case e: Throwable =>
        try root.getFileSystem(spark.sessionState.newHadoopConf()).delete(root, true)
        catch { case NonFatal(_) => () }
        throw e
    } finally pending.remove(root.toString)
    val written = Option(files.get)
    written.foreach(w => DataDirCache.putLeafFiles(root, w.toArray))
    written
  }

  /** Job commit of a direct write: the manifest lands in the dir and the
    * committed files go back to the waiting [[parquet]] call.
    */
  private[catalog] def committed(path: String, conf: Configuration,
      entries: Seq[(String, Long)]): Unit = {
    val root = new Path(path)
    val fs = raw(root.getFileSystem(conf))
    val manifest = new Path(root, ManifestName)
    val sorted = entries.sortBy(_._1)
    val out = fs.create(manifest, false)
    try out.write(MetadataJson.encodeFiles(sorted)) finally out.close()
    Option(pending.get(path)).foreach(_.set(statuses(fs, root,
      fs.getFileStatus(manifest), sorted)))
  }

  /** The files a staged dir's manifest names; None for a dir without one
    * (written before the manifest existed, or by a user-set protocol).
    */
  def manifested(fs: FileSystem, root: Path): Option[Seq[FileStatus]] = {
    val manifest = new Path(root, ManifestName)
    val st = try fs.getFileStatus(manifest)
      catch { case _: FileNotFoundException => return None }
    val in = fs.open(manifest)
    val bytes = try in.readAllBytes() finally in.close()
    Some(statuses(fs, root, st, MetadataJson.decodeFiles(bytes).getOrElse(
      throw new IllegalStateException(s"unreadable file manifest $manifest"))))
  }

  // the manifest is written right after its files, so its modification time
  // and block size stand for theirs; paths are qualified the way `fs` lists
  // them, so a file's path string is the same whether listed or manifested
  private def statuses(fs: FileSystem, root: Path, manifest: FileStatus,
      entries: Seq[(String, Long)]): Seq[FileStatus] =
    entries.map { case (rel, len) =>
      new FileStatus(len, false, manifest.getReplication, manifest.getBlockSize,
        manifest.getModificationTime,
        fs.makeQualified(Path.getPathWithoutSchemeAndAuthority(new Path(root, rel))))
    }

  /** `fs` without a checksum layer: driver-side files written into a staged
    * dir carry no `.crc` sidecar either.
    */
  def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }
}
