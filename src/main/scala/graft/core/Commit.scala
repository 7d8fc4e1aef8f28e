package graft.core

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path, UnsupportedFileSystemException}
import org.apache.spark.sql.SparkSession

/** The engine's one crash-safe commit. The only atomic step a Hadoop
  * file system offers is a rename, so a commit is one of two:
  *
  *  - [[publish]]: a writer fills a `_stage-<uuid>` path (hidden from
  *    every lister) and renames it into place with `Rename.NONE`, which
  *    throws when the name exists (`FileSystem.rename` onto an existing
  *    directory moves the source INTO it and reports success);
  *  - [[swap]]: one file replaced with `Rename.OVERWRITE`.
  *
  * A plain table directory that a sink rewrites whole is [[replace]]d:
  * staged beside it, then published in its place.
  *
  * Tables that change together form a GENERATION `dir/v<N>/`, named by
  * `dir/_CURRENT`: [[newGeneration]] stages, publishes, points and
  * vacuums, and readers resolve [[current]], so they see the previous
  * generation or the next, never a mix. A directory without generations
  * is its own current one, so older layouts open unchanged. */
object Commit {

  private val Pointer = "_CURRENT"
  private val Generation = "v(\\d+)".r
  private val StageTtlMs = 60L * 60 * 1000

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rename(spark: SparkSession, src: Path, dst: Path, mode: Options.Rename): Unit = {
    val fs = fsOf(spark, dst)
    FileContext.getFileContext(fs.makeQualified(dst).toUri, spark.sparkContext.hadoopConfiguration)
      .rename(fs.makeQualified(src), fs.makeQualified(dst), mode)
  }

  /** A fresh staging path under `dir`, unique to one attempt. */
  def stage(dir: String): Path = new Path(dir, s"_stage-${java.util.UUID.randomUUID()}")

  /** Rename the fully written `src` to `dst` (throws
    * `FileAlreadyExistsException` when `dst` exists), then sweep stages
    * beside it older than an hour: a crashed writer's. */
  def publish(spark: SparkSession, src: Path, dst: Path): Unit = {
    rename(spark, src, dst, Options.Rename.NONE)
    val fs = fsOf(spark, dst)
    val cutoff = System.currentTimeMillis() - StageTtlMs
    fs.listStatus(dst.getParent)
      .filter(s => s.getPath.getName.startsWith("_stage-") && s.getModificationTime < cutoff)
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** Atomically replace the file `dst` with the file `src`. Without
    * `FileContext` support this falls back to delete then rename; a
    * crash between them loses the pointer, which [[currentGeneration]]
    * covers. */
  def swap(spark: SparkSession, src: Path, dst: Path): Unit =
    try rename(spark, src, dst, Options.Rename.OVERWRITE)
    catch {
      case _: UnsupportedOperationException | _: UnsupportedFileSystemException =>
        val fs = fsOf(spark, dst)
        if (fs.exists(dst)) fs.delete(dst, false)
        if (!fs.rename(src, dst)) throw new IOException(s"could not swap $src into $dst")
    }

  /** Every `v<N>` directory under `dir`, complete or not, ascending. */
  private def allGenerations(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .collect { case Generation(n) => n.toLong }.sorted

  /** Complete generations (`_SUCCESS` present) under `dir`, ascending. */
  def generations(spark: SparkSession, dir: String): Seq[Long] = {
    val d = new Path(dir)
    val fs = fsOf(spark, d)
    allGenerations(fs, d).filter(g => fs.exists(new Path(d, s"v$g/_SUCCESS")))
  }

  /** The pointer's generation, else (pointer lost mid-swap or never
    * written) the highest complete one; None when `dir` has none. */
  def currentGeneration(spark: SparkSession, dir: String): Option[Long] = {
    val ptr = new Path(dir, Pointer)
    val pointed =
      try {
        val in = fsOf(spark, ptr).open(ptr)
        try Some(new String(in.readAllBytes(), UTF_8).trim.stripPrefix("v").toLong)
        finally in.close()
      } catch { case _: FileNotFoundException => None }
    pointed.orElse(generations(spark, dir).lastOption)
  }

  /** Where the live tables of `dir` are: its current generation, or
    * `dir` itself when it has none, or, when a crashed [[replace]] left
    * `dir` absent, its previous contents set aside. */
  def current(spark: SparkSession, dir: String): String =
    currentGeneration(spark, dir).fold {
      val d = new Path(dir)
      val fs = fsOf(spark, d)
      val aside = asideOf(d)
      if (!fs.exists(d) && fs.exists(aside)) aside.toString else dir
    }(g => s"$dir/v$g")

  /** Point `dir`'s `_CURRENT` at generation `gen`. */
  def pointTo(spark: SparkSession, dir: String, gen: Long): Unit = {
    val tmp = stage(dir)
    val out = fsOf(spark, tmp).create(tmp, false)
    try out.write(s"v$gen".getBytes(UTF_8)) finally out.close()
    swap(spark, tmp, new Path(dir, Pointer))
  }

  /** Commit a new generation of `dir`: `write` fills a stage path with
    * its tables, which is published as the next `v<N>`, pointed at, and
    * every other generation vacuumed. A failed write removes its stage.
    * Returns the new generation. */
  def newGeneration(spark: SparkSession, dir: String)(write: String => Unit): Long = {
    val st = stage(dir)
    val fs = fsOf(spark, st)
    val gen = try {
      write(st.toString)
      fs.create(new Path(st, "_SUCCESS"), false).close()
      val g = allGenerations(fs, new Path(dir)).lastOption.fold(0L)(_ + 1)
      publish(spark, st, new Path(dir, s"v$g"))
      g
    } catch {
      case NonFatal(e) =>
        try fs.delete(st, true) catch { case NonFatal(s) => e.addSuppressed(s) }
        throw e
    }
    pointTo(spark, dir, gen)
    vacuum(spark, dir, keep = 1)
    gen
  }

  private def asideOf(dir: Path): Path = new Path(dir.getParent, s"_aside-${dir.getName}")

  /** Replace the directory `dir`, present or not, with what `write`
    * puts in a stage path beside it: an existing `dir` is renamed aside
    * to `_aside-<name>`, the stage is published as `dir`, and the aside
    * is deleted. A failed write removes its stage and leaves `dir`
    * untouched. A crash between the two renames leaves `dir` absent,
    * which [[current]] resolves to the aside; one after the publish
    * leaves a stale aside. The next replace of `dir` first restores the
    * one and deletes the other. One writer per directory. */
  def replace(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val fs = fsOf(spark, new Path(dir))
    val dst = fs.makeQualified(new Path(dir))
    val aside = asideOf(dst)
    if (fs.exists(aside)) {
      if (fs.exists(dst)) fs.delete(aside, true)
      else rename(spark, aside, dst, Options.Rename.NONE)
    }
    val st = stage(dst.getParent.toString)
    try {
      write(st.toString)
      if (fs.exists(dst)) rename(spark, dst, aside, Options.Rename.NONE)
      publish(spark, st, dst)
    } catch {
      case NonFatal(e) =>
        try fs.delete(st, true) catch { case NonFatal(s) => e.addSuppressed(s) }
        throw e
    }
    if (fs.exists(aside)) fs.delete(aside, true)
  }

  /** Retention: delete all but the `keep` highest generations (never
    * the current one), and the entries of `dir` the current generation
    * shadows (tables of a layout written before generations). Returns
    * the deleted generation names. */
  def vacuum(spark: SparkSession, dir: String, keep: Int): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val d = new Path(dir)
    val fs = fsOf(spark, d)
    val cur = currentGeneration(spark, dir)
    val doomed = allGenerations(fs, d).dropRight(keep).filterNot(cur.contains).map(g => s"v$g")
    doomed.foreach(g => fs.delete(new Path(d, g), true))
    cur.toSeq.flatMap(g => fs.listStatus(new Path(d, s"v$g")).map(_.getPath.getName))
      .map(n => new Path(d, n))
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith(".") && fs.exists(p))
      .foreach(fs.delete(_, true))
    doomed
  }
}
