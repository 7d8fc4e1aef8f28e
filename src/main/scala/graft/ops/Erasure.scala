package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Targeted row erasure — the DELETE half of table maintenance
  * ([[Compaction]] is OPTIMIZE, [[Manifest]] is the stats spine).
  *
  * A GDPR/CCPA deletion batch is typically a few thousand keys against
  * a table of 10⁵–10⁶ files; rewriting the whole table to drop 0.001%
  * of its rows is the naive spelling (the `o31_erasure_cascade` query
  * computes WHAT must go; this op is HOW it goes at 100 TB). The
  * manifest makes deletes proportional to the data that actually
  * changes:
  *
  *  - [[plan]] is PURE METADATA: intersect the deletion keys with every
  *    file's [min, max] span of the key column from the manifest. Files
  *    whose span contains NO tombstone key cannot hold a matching row
  *    and are never opened. On a key-clustered layout (Sinks
  *    writeSortedBy / writeHourlyObs partitioning) the candidate set is
  *    O(keys), not O(files).
  *  - [[erase]] rewrites ONLY the candidate files, in place: each file
  *    is read alone, anti-filtered, and atomically swapped (write to a
  *    `.tmp` sibling, rename over the original; a file whose every row
  *    is tombstoned is simply removed). Untouched files keep their
  *    (path, size, mtime) identity BYTE-FOR-BYTE, so the documented
  *    post-erase [[Manifest.refresh]] re-scans only the rewritten
  *    files — the delta discipline end to end.
  *
  * The key column must be a PHYSICAL column of the files (a partition
  * column lives in directory names; erasing by it is a directory
  * delete, not a rewrite). The deletion batch is held driver-side —
  * it is the size of a compliance request, not of the data; corpus-
  * scale tombstone sets (e.g. "drop every doc from this domain") are
  * the anti-join full-rewrite path instead, and [[plan]] refuses
  * batches past `maxKeys` so the wrong tool fails loudly.
  */
object Erasure {

  final case class ErasePlan(
      keyCol: String, keys: Seq[Long],
      rewrite: Seq[String], untouched: Seq[String])

  final case class EraseReport(
      filesRewritten: Int, filesRemoved: Int, filesUntouched: Int,
      rowsDeleted: Long, rowsKept: Long)

  /** Metadata-only rewrite plan: candidate files = those whose manifest
    * [min_keyCol, max_keyCol] span contains at least one deletion key.
    * All-null / zero-row files never match (an equality tombstone is
    * null-rejecting). Deterministic: candidates in sorted-path order. */
  def plan(spark: SparkSession, manifestDir: String, keyCol: String,
      keys: Seq[Long], maxKeys: Int = 1000000): ErasePlan = {
    require(keys.nonEmpty, "empty deletion batch")
    require(keys.length <= maxKeys,
      s"deletion batch of ${keys.length} keys exceeds $maxKeys — a " +
        "corpus-scale tombstone set wants the anti-join full rewrite, " +
        "not per-file surgery")
    val sorted = keys.distinct.sorted.toArray
    def anyKeyIn(lo: Long, hi: Long): Boolean = {
      // first key >= lo, then check it is <= hi — O(log keys) per file
      var l = 0; var r = sorted.length
      while (l < r) { val m = (l + r) >>> 1; if (sorted(m) < lo) l = m + 1 else r = m }
      l < sorted.length && sorted(l) <= hi
    }
    val man = spark.read.parquet(manifestDir)
      .select(col("file"), col(s"min_$keyCol"), col(s"max_$keyCol"))
      .collect() // manifest rows: metadata-sized by construction
    val (cand, skip) = man.partition { r =>
      !r.isNullAt(1) && !r.isNullAt(2) &&
        anyKeyIn(toLong(r.get(1)), toLong(r.get(2)))
    }
    ErasePlan(keyCol, sorted.toSeq,
      cand.map(_.getString(0)).sorted.toSeq,
      skip.map(_.getString(0)).sorted.toSeq)
  }

  private def toLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int  => i.toLong
    case s: Short => s.toLong
    case other => throw new IllegalArgumentException(
      s"erasure key stats must be integral, got ${other.getClass}")
  }

  /** Execute a [[plan]]: per candidate file, read it alone (one file =
    * one task), drop tombstoned rows, and atomically swap the filtered
    * rewrite over the original path (or delete the file outright when
    * nothing survives). Files outside the plan are never opened or
    * touched. Rewrites run concurrently through a bounded pool, like
    * [[Compaction.compact]] — independent 1-task jobs. */
  def erase(spark: SparkSession, p: ErasePlan, parallelism: Int = 8): EraseReport = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    if (p.rewrite.isEmpty)
      return EraseReport(0, 0, p.untouched.length, 0L, 0L)
    // small batches stay an in-plan IN-list (codegen'd, no join);
    // larger ones become a broadcast anti-join — a million-element
    // literal would bloat every per-file plan and linear-scan per row
    val keysDf =
      if (p.keys.length > 10000) {
        import spark.implicits._
        Some(broadcast(p.keys.toDF("__erase_k")))
      } else None
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(parallelism, p.rewrite.length))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futs = p.rewrite.map { f =>
        scala.concurrent.Future {
          val path = new Path(f)
          val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val df = spark.read.parquet(f)
          val keep = keysDf match {
            case Some(ks) =>
              df.join(ks, df(p.keyCol) === ks("__erase_k"), "left_anti")
            case None => df.filter(!col(p.keyCol).isin(p.keys: _*))
          }
          // per-file audit counts: three 1-task jobs over one file's
          // bytes (count, filtered count, write) — the file is small by
          // the plan's contract, and the OS page cache serves re-reads
          val total = df.count()
          val keptN = keep.count()
          if (keptN == 0L) {
            fs.delete(path, false)
            (0, 1, total - keptN, 0L)
          } else if (keptN == total) {
            // manifest span contained a key but no row matched (span is
            // coarser than membership): leave the file byte-identical
            (0, 0, 0L, keptN)
          } else {
            val tmpDir = new Path(path.getParent, s".erase_tmp_${path.getName}")
            keep.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
            val part = fs.listStatus(tmpDir).map(_.getPath)
              .find(q => q.getName.startsWith("part-") && q.getName.endsWith(".parquet"))
              .getOrElse(throw new IllegalStateException(
                s"rewrite of $f produced no part file under $tmpDir"))
            // one atomic replace: a crash leaves the old file or the new one
            graft.core.Commit.swap(spark, part, path)
            fs.delete(tmpDir, true)
            (1, 0, total - keptN, keptN)
          }
        }
      }
      val res = try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf)
        catch {
          case t: Throwable =>
            pool.shutdownNow()
            pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
            throw t
        }
      EraseReport(
        res.map(_._1).sum, res.map(_._2).sum, p.untouched.length,
        res.map(_._3).sum, res.map(_._4).sum)
    } finally pool.shutdown()
  }
}
