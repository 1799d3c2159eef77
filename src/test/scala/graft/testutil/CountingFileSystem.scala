package graft.testutil

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A `counted://` filesystem that delegates to the local disk and counts the
  * metadata operations the versioned-table protocol issues (listStatus,
  * getFileStatus, open, create, rename, mkdirs) — the test-side
  * instrument behind MetadataCallsSpec's per-snapshot-resolution FS budget.
  * Each counted call is one round-trip on an object store, so the pinned
  * budgets ARE the table's S3 cost model, measured rather than claimed.
  *
  * Counting is per (op, path) so a spec can assert "one listStatus of
  * `_commit_log`, zero opens of commit files" without being polluted by data
  * I/O. Only top-level calls through the public API are counted; the
  * delegate's internal java.io work is invisible by construction.
  */
class CountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "counted"
  override def getUri: URI = URI.create("counted:///")

  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFileSystem.record("listStatus", f)
    CountingFileSystem.shielded(super.listStatus(f))
  }

  override def getFileStatus(f: Path): FileStatus = {
    CountingFileSystem.record("getFileStatus", f)
    CountingFileSystem.shielded(super.getFileStatus(f))
  }

  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountingFileSystem.record("open", f)
    CountingFileSystem.shielded(super.open(f, bufferSize))
  }

  // both concrete create overloads: FileSystem.create(f, overwrite) funnels to
  // the permissionless one, the FsPermission one calls it in turn (shielded)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingFileSystem.record("create", f)
    CountingFileSystem.shielded(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingFileSystem.record("create", f)
    CountingFileSystem.shielded(super.create(f, overwrite, bufferSize, replication,
      blockSize, progress))
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CountingFileSystem.record("rename", src)
    CountingFileSystem.shielded(super.rename(src, dst))
  }

  override def mkdirs(f: Path): Boolean = {
    CountingFileSystem.record("mkdirs", f)
    CountingFileSystem.shielded(super.mkdirs(f))
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CountingFileSystem.record("mkdirs", f)
    CountingFileSystem.shielded(super.mkdirs(f, permission))
  }
}

object CountingFileSystem {
  private val counts = new ConcurrentHashMap[(String, String), AtomicLong]()
  /** Calls from the delegate's own internals (listStatus statting each child)
    * must not double-count; the guard is a per-thread re-entrancy latch.
    */
  private val inCall = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  private[testutil] def record(op: String, p: Path): Unit = {
    if (inCall.get()) return
    counts.computeIfAbsent((op, p.toUri.getPath), _ => new AtomicLong())
      .incrementAndGet()
  }

  /** Run `body` with nested delegate calls invisible to the counters. */
  private[testutil] def shielded[T](body: => T): T = {
    val prev = inCall.get()
    inCall.set(true)
    try body finally inCall.set(prev)
  }

  def reset(): Unit = counts.clear()

  /** (op, absolute path) -> calls since the last reset. */
  def snapshot(): Map[(String, String), Long] = {
    import scala.jdk.CollectionConverters._
    counts.asScala.map { case (k, v) => k -> v.get() }.toMap
  }

  /** Total calls of `op` on paths matching `pathPart`. */
  def total(op: String, pathPart: String): Long =
    snapshot().collect {
      case ((o, p), n) if o == op && p.contains(pathPart) => n
    }.sum
}
