package graft

import java.io.{FilterOutputStream, IOException}
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `crashfs` scheme, with an armable
  * crash: while [[CrashFs.failAfter]] holds `n`, every file created
  * accepts its first `n` bytes and then throws — a writer killed
  * mid-write. [[CrashFs.register]] installs it (and its `FileContext`
  * twin, so overwrite-renames work) on a Hadoop configuration. */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CrashFs.Scheme}:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    CrashFs.arm(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
}

/** The `FileContext` binding of [[CrashFs]]. */
class CrashAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CrashFs, conf, CrashFs.Scheme, false)

object CrashFs {
  val Scheme = "crashfs"

  @volatile var failAfter: Option[Int] = None

  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CrashFs].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[CrashAfs].getName)
  }

  /** `body` with the crash armed at `n` bytes. */
  def crashing[A](n: Int)(body: => A): A = {
    failAfter = Some(n)
    try body finally failAfter = None
  }

  private def arm(raw: FSDataOutputStream): FSDataOutputStream = failAfter match {
    case None => raw
    case Some(n) =>
      val cut = new FilterOutputStream(raw) {
        private var left = n
        override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          val k = math.min(left, len)
          raw.write(b, off, k)
          left -= k
          if (k < len) throw new IOException(s"injected crash after $n bytes")
        }
      }
      new FSDataOutputStream(cut, null)
  }
}
