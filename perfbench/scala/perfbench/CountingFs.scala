package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with a counter on each metadata-plane call.
  * The traced run installs it as `fs.file.impl` through the session's
  * Hadoop conf, so it sees the warehouse's own calls and Spark's file
  * scans and writes alike. Counters are process-wide: Hadoop may build
  * more than one instance. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  private def counted[T](c: AtomicLong)(body: => T): T = {
    c.incrementAndGet()
    try body
    catch { case e: Throwable => failed.incrementAndGet(); throw e }
  }

  override def listStatus(f: Path): Array[FileStatus] = counted(list)(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = counted(status)(super.getFileStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(opens)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    counted(creates)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = counted(renames)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(deletes)(super.delete(f, recursive))
}

object CountingFs {
  val list, status, opens, creates, renames, deletes, failed = new AtomicLong()

  private val all = Seq("list" -> list, "status" -> status, "open" -> opens,
    "create" -> creates, "rename" -> renames, "delete" -> deletes, "failed" -> failed)

  def snapshot(): Map[String, Long] = all.map { case (k, c) => k -> c.get() }.toMap

  /** Bytes the `file` scheme has written, from Hadoop's own statistics. */
  def bytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }
}
