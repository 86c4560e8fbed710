package graft.util

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** TEST DOUBLE: the local `file:` FileSystem with fault injection — every
  * `create` whose path matches the armed predicate throws an IOException
  * carrying [[FailingLocalFs.Marker]]. Unarmed it behaves exactly like
  * Hadoop's LocalFileSystem (checksums included), so the writes of the
  * code under test that should succeed still do.
  *
  * Install it only through [[FailingLocalFs.failingCreates]], which swaps
  * `fs.file.impl` (uncached, so every FileSystem.get during the body sees
  * it) and restores the previous configuration afterwards.
  */
class FailingLocalFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (FailingLocalFs.failWhen(f.toString))
      throw new java.io.IOException(s"${FailingLocalFs.Marker}: $f")
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object FailingLocalFs {
  val Marker = "injected create failure"

  @volatile private var failWhen: String => Boolean = _ => false

  /** Run `body` with every `file:` create whose path satisfies `pred`
    * failing. Tests run one at a time in the suite JVM, so the
    * process-wide switch is safe.
    */
  def failingCreates[T](spark: SparkSession, pred: String => Boolean)(
      body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val prevImpl = Option(hc.get("fs.file.impl"))
    hc.set("fs.file.impl", classOf[FailingLocalFs].getName)
    hc.set("fs.file.impl.disable.cache", "true")
    failWhen = pred
    try body
    finally {
      failWhen = _ => false
      prevImpl.fold(hc.unset("fs.file.impl"))(hc.set("fs.file.impl", _))
      hc.unset("fs.file.impl.disable.cache")
    }
  }

  /** True when `t` or any of its causes carries the injected failure. */
  def injected(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains(Marker)))
}
