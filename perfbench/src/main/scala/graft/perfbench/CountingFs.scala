package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The engine's `file://` implementation with op counters, installed
  * for traced runs only: Hadoop's FileSystem.Statistics count bytes for
  * the local file system but no operations. Reads are opens and status
  * calls; writes are creates, renames, deletes and mkdirs. */
class CountingFs extends graft.fs.FastLocalFileSystem {
  import CountingFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFs {
  val reads = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong

  /** Make the cached `file://` instance a [[CountingFs]]. The engine's
    * own wiring keeps a cached instance that is already a
    * FastLocalFileSystem, which this is. */
  def install(spark: SparkSession): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val uri = java.net.URI.create("file:///")
    hc.set("fs.file.impl", classOf[CountingFs].getName)
    FileSystem.get(uri, hc).close()
    require(FileSystem.get(uri, hc).isInstanceOf[CountingFs],
      "counting file system not installed")
  }

  /** (reads, writes, lists) so far. */
  def counters(): Array[Long] = Array(reads.get, writes.get, lists.get)
}
