package perfbench

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local checksummed file system, unchanged, plus a count of each
  * metadata and stream operation and of the bytes written, charged to the
  * span open on the calling thread ([[Trace]]). Installed for the `file`
  * scheme in traced runs only. Hadoop's own statistics for the local file
  * system count bytes but leave the operation counts at zero. */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    Trace.fsOp("list"); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    Trace.fsOp("list"); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    Trace.fsOp("list"); super.listStatusIterator(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    Trace.fsOp("stat"); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    Trace.fsOp("open"); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    Trace.fsOp("create")
    counted(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  }
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    Trace.fsOp("create")
    counted(super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  }
  override def rename(src: Path, dst: Path): Boolean = {
    Trace.fsOp("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    Trace.fsOp("delete"); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Trace.fsOp("mkdirs"); super.mkdirs(f, permission)
  }

  /** Charge the stream's length to the span that created it, on close. */
  private def counted(out: FSDataOutputStream): FSDataOutputStream = {
    val span = Trace.current()
    new FSDataOutputStream(out, null) {
      private var closed = false
      override def close(): Unit = {
        if (!closed) { closed = true; Trace.bytesWritten(span, getPos) }
        super.close()
      }
    }
  }
}
