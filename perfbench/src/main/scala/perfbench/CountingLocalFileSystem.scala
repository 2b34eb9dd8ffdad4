package perfbench

import java.util.EnumSet
import org.apache.hadoop.fs.{CreateFlag, FileSystem, RawLocalFileSystem, FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Options, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with its operation counters switched on.
  *
  * Hadoop's local file system counts bytes in its `Statistics` but never
  * increments the read, write or list operation counters, so a probe that
  * reads them sees 0 however many files a job writes. Traced runs install
  * this class for the `file` scheme (`spark.hadoop.fs.file.impl`). It
  * changes no behaviour: each public entry point increments the matching
  * counter once (nested calls inside one operation are not re-counted)
  * and delegates. */
class CountingLocalFileSystem extends LocalFileSystem {
  // LocalFileSystem never initializes its own statistics; the wrapped raw
  // file system's object is the one that already counts the bytes
  private lazy val stats = FileSystem.getStatistics("file", classOf[RawLocalFileSystem])
  private def count[A](kind: Int)(f: => A): A = {
    val d = CountingLocalFileSystem.depth
    if (d.get == 0) kind match {
      case 0 => stats.incrementReadOps(1)
      case 1 => stats.incrementWriteOps(1)
      case _ => stats.incrementLargeReadOps(1)
    }
    d.set(d.get + 1)
    try f finally d.set(d.get - 1)
  }
  private def read[A](f: => A): A = count(0)(f)
  private def write[A](f: => A): A = count(1)(f)
  private def list[A](f: => A): A = count(2)(f)

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    read(super.open(f, bufferSize))
  override def getFileStatus(f: Path): FileStatus = read(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = list(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    list(super.listLocatedStatus(f))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    write(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def create(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream =
    write(super.create(f, permission, flags, bufferSize, replication,
      blockSize, progress, checksumOpt))
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    write(super.append(f, bufferSize, progress))
  override def rename(src: Path, dst: Path): Boolean = write(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    write(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    write(super.mkdirs(f, permission))
  override def truncate(f: Path, newLength: Long): Boolean =
    write(super.truncate(f, newLength))
}

object CountingLocalFileSystem {
  private val depth = ThreadLocal.withInitial[Int](() => 0)
}
