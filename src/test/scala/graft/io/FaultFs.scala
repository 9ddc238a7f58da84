package graft.io

import java.io.{IOException, OutputStream}
import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local file system under its own `fault:` scheme, failing one
  * armed operation — a crash at an exact point of a multi-step file
  * protocol, with no hook in the code under test (the pattern Spark's
  * own suites use for file-system faults). A tripped `rename` or
  * `delete` throws before acting; a tripped `create` writes half of the
  * first write and throws, leaving a torn file. One trip per arming. */
class FaultFs extends RawLocalFileSystem {
  override def getScheme: String = "fault"
  override def getUri: URI = URI.create("fault:///")

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.trip("rename", dst)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.trip("delete", p)
    super.delete(p, recursive)
  }

  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    FaultFs.tear(p, super.create(p, overwrite, bufferSize, replication, blockSize,
      progress))

  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    FaultFs.tear(p, super.create(p, permission, overwrite, bufferSize, replication,
      blockSize, progress))
}

object FaultFs {

  private final case class Armed(op: String, matches: Path => Boolean, var skip: Int)

  @volatile private var armed: Option[Armed] = None

  /** Register the scheme on the session (idempotent) and return the
    * `fault:` form of local dir `dir`. */
  def at(s: SparkSession, dir: String): String = {
    s.sparkContext.hadoopConfiguration.set("fs.fault.impl", classOf[FaultFs].getName)
    s"fault://$dir"
  }

  /** Fail the `(skip + 1)`-th `op` ("rename" — matched on the
    * destination, "delete" or "create") on a path `matches` accepts. */
  def arm(op: String, skip: Int = 0)(matches: Path => Boolean): Unit =
    armed = Some(Armed(op, matches, skip))

  def disarm(): Unit = armed = None

  /** Whether a fault is still armed: it disarms when it fires. */
  def pending: Boolean = armed.nonEmpty

  private def injected(op: String, p: Path) =
    new IOException(s"injected $op fault at $p")

  /** `out`, or — when an armed `create` fault matches `p` — a stream
    * that writes half of its first write and throws. */
  private def tear(p: Path, out: FSDataOutputStream): FSDataOutputStream =
    if (!tripped("create", p)) out
    else new FSDataOutputStream(new OutputStream {
      override def write(b: Int): Unit = throw injected("create", p)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len / 2)
        throw injected("create", p)
      }
      override def close(): Unit = out.close()
    }, null)

  private def tripped(op: String, p: Path): Boolean = synchronized {
    armed match {
      case Some(a) if a.op == op && a.matches(p) =>
        if (a.skip > 0) { a.skip -= 1; false }
        else { armed = None; true }
      case _ => false
    }
  }

  private def trip(op: String, p: Path): Unit =
    if (tripped(op, p)) throw injected(op, p)
}
