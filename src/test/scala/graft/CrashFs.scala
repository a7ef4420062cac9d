package graft

import java.io.{IOException, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The local file system under its own `crashfs` scheme, for crash specs.
  * Once armed on a directory it numbers every create, rename and delete
  * under it, and from the `at`-th one on every such call throws: the file
  * system as a process that died at that step left it. Reads never fail. */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = CrashFs.Root
  override def getScheme: String = CrashFs.Scheme

  // plain statuses: the local ones load permissions through a `file:` URI
  private def plain(st: FileStatus) = new FileStatus(st.getLen, st.isDirectory,
    st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath)
  override def getFileStatus(p: Path): FileStatus = plain(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(plain)

  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): OutputStream = {
    CrashFs.step(f)
    super.createOutputStreamWithMode(f, append, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step(src)
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.step(p)
    super.delete(p, recursive)
  }
}

object CrashFs {
  val Scheme = "crashfs"
  val Root: URI = URI.create(s"$Scheme:///")

  @volatile private var armedDir: Option[String] = None
  @volatile private var failAt = Int.MaxValue
  private val steps = new AtomicInteger(0)

  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[CrashFs].getName)

  /** `localDir` (absolute) seen through this file system. */
  def uri(localDir: String): String = s"$Scheme://$localDir"

  /** Count mutations under `localDir` from zero; fail from the `at`-th. */
  def arm(localDir: String, at: Int): Unit = {
    steps.set(0); failAt = at; armedDir = Some(localDir)
  }

  /** Stop counting and failing; returns the mutations counted. */
  def disarm(): Int = {
    armedDir = None; failAt = Int.MaxValue; steps.get
  }

  private def step(p: Path): Unit = armedDir.foreach { dir =>
    val path = p.toUri.getPath
    if ((path == dir || path.startsWith(dir + "/")) && steps.incrementAndGet() >= failAt)
      throw new IOException(s"CrashFs: crashed at mutation $failAt ($p)")
  }
}
