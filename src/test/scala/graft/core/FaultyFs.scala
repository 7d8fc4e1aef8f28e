package graft.core

import java.io.IOException
import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, DelegateToFileSystem, FSDataOutputStream, FilterFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** Fault injection for commit specs: the local file system under the
  * `faulty://` scheme, failing at the Nth mutation (create, mkdirs,
  * rename, delete) counted by one static counter.
  *
  * Mutations are of two kinds, counted apart: those a Spark write makes
  * (task output, job commit — any mutation with a Spark file-writing
  * frame on the stack) and those the engine's own commit makes. A spec
  * arms one kind with [[FaultyFs.arm]]; the Nth mutation of that kind
  * runs the fault, which by default throws [[FaultyFs.Injected]].
  *
  * A `FileContext` rename counts once, at entry, where HDFS's rename
  * is one atomic call; the local file system checks the destination
  * and then renames, so a fault hook that races a competing writer
  * runs before that check, not inside it. */
class FaultyFs extends FilterFileSystem(new LocalFileSystem(new FaultyFs.RawLocal)) {
  import FaultyFs.mutation

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutation("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: org.apache.hadoop.fs.Options.ChecksumOpt): FSDataOutputStream = {
    mutation("create", f)
    super.create(f, permission, flags, bufferSize, replication, blockSize, progress, checksumOpt)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutation("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutation("mkdirs", f)
    super.mkdirs(f, permission)
  }

  override def mkdirs(f: Path): Boolean = {
    mutation("mkdirs", f)
    super.mkdirs(f)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    mutation("rename", dst)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutation("delete", f)
    super.delete(f, recursive)
  }
}

/** `FileContext` binding of [[FaultyFs]] (`fs.AbstractFileSystem.faulty.impl`);
  * without it `FileContext` cannot open `faulty://` paths. */
class FaultyAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new FaultyFs, conf, FaultyFs.Scheme, false) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    FaultyFs.mutation("rename", dst)
    FaultyFs.quietly(super.renameInternal(src, dst, overwrite))
  }
}

object FaultyFs {
  val Scheme = "faulty"

  /** The raw local file system, answering to the `faulty` scheme. */
  class RawLocal extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }

  final class Injected(what: String) extends IOException(s"injected fault at $what")

  private final case class Arm(n: Int, sparkWrite: Boolean, fault: String => Unit)

  private val counter = new AtomicInteger()
  @volatile private var armed: Option[Arm] = None
  @volatile private var firedAt: Option[String] = None
  private val quiet = new ThreadLocal[Boolean] { override def initialValue() = false }

  /** Register the scheme on the session (both bindings: without the
    * `FileContext` one, the commit's atomic rename silently falls back
    * to delete-then-rename). */
  def install(spark: SparkSession): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(s"fs.$Scheme.impl", classOf[FaultyFs].getName)
    hc.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[FaultyAbstractFs].getName)
  }

  /** A fresh local temp directory, as a `faulty://` path. */
  def tempDir(prefix: String): String =
    s"$Scheme://${java.nio.file.Files.createTempDirectory(prefix)}"

  /** Count mutations of one kind (Spark-write or commit) from zero; the
    * `n`-th runs `fault` with a description of the mutation, once. */
  def arm(n: Int, sparkWrite: Boolean = false)(
      fault: String => Unit = what => throw new Injected(what)): Unit = {
    counter.set(0)
    firedAt = None
    armed = Some(Arm(n, sparkWrite, fault))
  }

  /** Stop counting; returns how many mutations of the armed kind ran,
    * and where the fault fired, if it did. */
  def disarm(): (Int, Option[String]) = {
    armed = None
    (counter.get, firedAt)
  }

  /** How many commit (or Spark-write) mutations `body` makes. */
  def count(sparkWrite: Boolean = false)(body: => Unit): Int = {
    arm(Int.MaxValue, sparkWrite)()
    try body finally armed = None
    counter.get
  }

  private[core] def quietly[A](body: => A): A = {
    quiet.set(true)
    try body finally quiet.set(false)
  }

  private def inSparkWrite: Boolean =
    Thread.currentThread.getStackTrace.exists { f =>
      val c = f.getClassName
      c.startsWith("org.apache.spark.sql.execution.datasources.") ||
        c.startsWith("org.apache.spark.internal.io.") ||
        c.startsWith("org.apache.spark.executor.")
    }

  private[core] def mutation(op: String, p: Path): Unit =
    if (!quiet.get) armed.foreach { a =>
      if (a.sparkWrite == inSparkWrite && counter.incrementAndGet() == a.n) {
        val what = s"$op $p (mutation ${a.n})"
        firedAt = Some(what)
        armed = None
        a.fault(what)
      }
    }
}
