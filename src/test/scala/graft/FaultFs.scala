package graft

import java.io.{IOException, OutputStream}

import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A file system that fails on request, over a real one. `refuseRename`
  * makes `rename(src, dst)` return false without touching anything;
  * `cutCreate` cuts a `create` stream after that many bytes: the bytes
  * before the cut stay on disk and the write that crosses it throws, as a
  * crash mid-write would leave it.
  */
final class FaultFs(inner: FileSystem) extends FilterFileSystem(inner) {
  @volatile var refuseRename: (Path, Path) => Boolean = (_, _) => false
  @volatile var cutCreate: Path => Option[Long] = _ => None

  override def rename(src: Path, dst: Path): Boolean =
    !refuseRename(src, dst) && super.rename(src, dst)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    cutCreate(f).fold(out)(k => new FSDataOutputStream(new FaultFs.Cut(out, k), null))
  }
}

object FaultFs {
  private final class Cut(out: OutputStream, private var left: Long) extends OutputStream {
    private var closed = false

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      val n = math.min(len.toLong, left).toInt
      out.write(b, off, n)
      left -= n
      if (n < len) {
        close()
        throw new IOException("injected crash: create stream cut")
      }
    }

    override def flush(): Unit = if (!closed) out.flush()

    override def close(): Unit = if (!closed) { closed = true; out.close() }
  }
}
