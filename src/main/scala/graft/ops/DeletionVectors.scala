package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style row-level deletes — POSITION deletes and EQUALITY
  * (keyed) deletes — the third leg of the lakehouse maintenance stool
  * next to [[Manifest]] (stats) and [[Compaction]] (layout).
  *
  * A delete that must take effect NOW cannot wait for a copy-on-write
  * rewrite of every touched file (at 100 TB a scattered 0.1% delete
  * touches nearly every file — a full-table rewrite). Instead the
  * delete is recorded in a small side table and every read anti-joins
  * it away (merge-on-read). Two delete encodings, the same pair Iceberg
  * v2 defines, because deleters know different things:
  *
  *  - POSITION deletes — (file_path, row_index) pairs, captured when
  *    the deleter can SCAN for victims: positions come from the parquet
  *    reader's own hidden `_metadata` struct (stable row numbering
  *    within each file, split-independent), so capture is ONE predicate
  *    scan and the read path is ONE left-anti join on the pair.
  *  - EQUALITY deletes — key tuples, appended when the deleter knows
  *    only KEYS (a CDC/tombstone stream emits deleted keys, never file
  *    positions); the read path anti-joins on the key columns. Costlier
  *    per read (the key columns must be decoded for every data row) but
  *    the only encoding a streaming deleter can produce; compaction
  *    absorbs both the same way.
  *
  * The delete side is broadcast when small — the overwhelmingly common
  * case: KBs per million deleted rows — decided from its ON-DISK byte
  * size (an FS listing, not a count() job), so a merge-on-read scan
  * costs the data side NO shuffle; past the limit the anti-join
  * shuffles — correct, and the signal that compaction is overdue.
  *
  * Durability: each delete batch is committed as a GENERATION directory
  * (`gen=<k>/`) written under its own `_stage-<uuid>` name first and
  * published into place ([[graft.core.Commit.publish]]) — readers
  * (Spark hides `_`/`.` paths) never see a
  * partial generation, and no maintenance step ever overwrites the sole
  * copy of a live vector: [[pruneDanglingDeletes]] commits its pruned
  * generation BEFORE dropping the old ones, so a crash at any point
  * leaves the visible delete set a superset of the truth (harmless
  * under anti-join membership semantics), never a subset (which would
  * silently resurrect deleted rows). Appending the same positions/keys
  * twice is likewise harmless: reads dedup the (tiny) delete side.
  *
  * Data files are immutable; [[Compaction.compact]] with a `deleteDir`
  * ABSORBS deletes by anti-joining them during the group rewrites,
  * after which [[pruneDanglingDeletes]] drops the vectors whose files
  * vanished.
  */
object DeletionVectors {

  // ---------------------------------------------------------------- FS helpers

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive listing of a delete table's DATA files (`_`/`.`-prefixed
    * files and dirs — staging, commit metadata — excluded at every
    * level). Metadata-only; the generation layout keeps this a
    * one-level-deep walk. */
  private def listDeleteFiles(spark: SparkSession, dir: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(dir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) return Seq.empty
    def walk(d: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (s.isFile) Seq(s)
        else walk(s.getPath)
      }
    walk(p)
  }

  private[ops] def hasDeletes(spark: SparkSession, deleteDir: String): Boolean =
    listDeleteFiles(spark, deleteDir).nonEmpty

  /** Highest generation id of any `gen=<k>` entry under `deleteDir`
    * (−1 if none). */
  private def maxGen(spark: SparkSession, deleteDir: String): Int = {
    val p = new Path(deleteDir)
    val fs = fsOf(spark, deleteDir)
    if (!fs.exists(p)) return -1
    fs.listStatus(p).toSeq
      .filter(_.getPath.getName.startsWith("gen="))
      .map(_.getPath.getName.stripPrefix("gen=").toInt)
      .foldLeft(-1)(math.max)
  }

  /** Stage-then-publish generation commit: `df` is written to this
    * attempt's own hidden stage, counted THERE (so the returned count
    * derives from the bytes actually written, not a second scan of the
    * source), and published as `gen=<k>` only if non-empty. Returns the
    * committed row count (0 ⇒ nothing was committed and the stage is
    * gone). The publish is the single visibility point; one that finds
    * `gen=<k>` taken by a concurrent writer retries at the next id
    * (delete generations commute, so both land). */
  private def commitGeneration(spark: SparkSession, deleteDir: String,
      df: DataFrame): Long = {
    val fs = fsOf(spark, deleteDir)
    val stage = graft.core.Commit.stage(deleteDir)
    df.write.mode("overwrite").parquet(stage.toString)
    // count from the staged bytes (zero-task writes leave no data file)
    val n = if (listDeleteFiles(spark, stage.toString).isEmpty) 0L
      else spark.read.parquet(stage.toString).count()
    if (n == 0L) { fs.delete(stage, true); return 0L }
    var published = false
    while (!published) {
      val gen = new Path(deleteDir, s"gen=${maxGen(spark, deleteDir) + 1}")
      try { graft.core.Commit.publish(spark, stage, gen); published = true }
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
    }
    n
  }

  /** The delete table as a frame of its payload columns (the `gen`
    * partition column is commit bookkeeping, not identity), deduped —
    * generations may overlap and membership is what the anti-join
    * needs. */
  private def deleteTable(spark: SparkSession, deleteDir: String): DataFrame =
    spark.read.parquet(deleteDir).drop("gen").distinct()

  /** Broadcast the delete side while its ON-DISK size stays under
    * `byteLimit` — decided from the FS listing the wrapper already
    * pays, NOT a count() job (counting would scan the delete table once
    * per read, doubling the metadata cost of every merge-on-read
    * query); beyond the limit the anti-join shuffles both sides —
    * correct but a compaction smell. */
  private def sided(spark: SparkSession, deleteDir: String, df: DataFrame,
      byteLimit: Long): DataFrame = {
    val bytes = listDeleteFiles(spark, deleteDir).map(_.getLen).sum
    if (bytes <= byteLimit) broadcast(df) else df
  }

  // ------------------------------------------------------------ position deletes

  /** Record positions of rows matching `pred` against the CURRENT file
    * layout of `dataDir`, committed to `deleteDir` as one more delete
    * generation. ONE predicate scan: the positions are written first
    * and the returned count comes from the staged bytes, never from a
    * second pass over the data. Rows already covered by earlier
    * generations are re-recorded — membership semantics make that a
    * no-op at read time. */
  def addDeletes(spark: SparkSession, dataDir: String, deleteDir: String,
      pred: Column): Long = {
    val hits = spark.read.parquet(dataDir)
      .filter(pred)
      .select(
        col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("row_index"))
    commitGeneration(spark, deleteDir, hits)
  }

  /** Merge-on-read scan: `dataDir` minus every position recorded in
    * `deleteDir`. No delete table (or an empty one) reads the data
    * unchanged. */
  def read(spark: SparkSession, dataDir: String, deleteDir: String,
      broadcastByteLimit: Long = 256L * 1024 * 1024): DataFrame = {
    val data = spark.read.parquet(dataDir)
    if (!hasDeletes(spark, deleteDir)) return data
    val dels = sided(spark, deleteDir,
      deleteTable(spark, deleteDir).select(col("file_path"), col("row_index")),
      broadcastByteLimit)
    val keyed = data.select(
      col("*"),
      col("_metadata.file_path").as("__dv_file"),
      col("_metadata.row_index").as("__dv_pos"))
    keyed.join(dels,
        keyed("__dv_file") === dels("file_path") &&
          keyed("__dv_pos") === dels("row_index"),
        "left_anti")
      .drop("__dv_file", "__dv_pos")
  }

  final case class PruneReport(kept: Long, dropped: Long)

  /** Post-compaction maintenance: drop delete rows whose data file no
    * longer exists (a rewrite gave surviving rows NEW positions in NEW
    * files, so the old vectors are dangling — harmless to reads, pure
    * bloat). Fully distributed: the only driver-side state is the LIVE
    * FILE LIST (one FS listing — metadata-sized, the same bound as
    * Spark's own file index) and the delete table's DISTINCT FILE PATHS
    * (file-grain, bounded by the file count, never by position rows); a
    * churned table's billions of positions are filtered and rewritten
    * entirely in the cluster. Commit ordering is crash-safe: the pruned
    * generation becomes visible BEFORE the old generations are dropped,
    * so every intermediate state is a harmless superset of the live
    * vectors, never a subset. */
  def pruneDanglingDeletes(spark: SparkSession, dataDir: String,
      deleteDir: String): PruneReport = {
    if (!hasDeletes(spark, deleteDir)) return PruneReport(0L, 0L)
    val fs = fsOf(spark, deleteDir)
    // compare URI PATHS, not rendered URI strings: `_metadata.file_path`
    // renders as `file:///x` (and URL-encodes specials) while Hadoop
    // Path.toUri prints `file:/x` — string equality silently matches
    // nothing (the Manifest.normScan lesson)
    def norm(s: String): String =
      try {
        val g = new java.net.URI(s).getPath
        if (g != null) g else new Path(s).toUri.getPath
      } catch {
        case _: java.net.URISyntaxException => new Path(s).toUri.getPath
      }
    val dataFs = fsOf(spark, dataDir)
    def walk(dir: Path): Seq[String] =
      dataFs.listStatus(dir).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (s.isFile) Seq(s.getPath.toUri.getPath)
        else walk(s.getPath)
      }
    val live = walk(new Path(dataDir)).toSet
    val dels = deleteTable(spark, deleteDir)
      .select(col("file_path"), col("row_index"))
    val total = dels.count() // distributed agg over the delete table
    // file-grain classification: distinct paths are metadata-sized
    // (bounded by the file count) even when positions are billions
    import spark.implicits._
    val livePaths = dels.select(col("file_path")).distinct()
      .collect().map(_.getString(0)).toSeq
      .filter(p => live.contains(norm(p)))
    val keep = dels.join(
      broadcast(livePaths.toDF("file_path")), Seq("file_path"), "left_semi")
    val oldGens = fs.listStatus(new Path(deleteDir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
      .map(_.getPath)
    val kept = commitGeneration(spark, deleteDir, keep)
    // old generations go LAST: until here the table is a superset
    oldGens.foreach(g => fs.delete(g, true))
    PruneReport(kept, total - kept)
  }

  // ------------------------------------------------------------ equality deletes

  /** Commit a batch of EQUALITY deletes: every row of `keys` (any
    * schema — its columns ARE the delete key) marks all data rows with
    * matching values as deleted. This is the encoding a CDC/tombstone
    * stream can actually produce — the deleter knows keys, not file
    * positions. Keys are deduped before the write; returns the number
    * of distinct key tuples committed. */
  def addKeyDeletes(spark: SparkSession, eqDeleteDir: String,
      keys: DataFrame): Long = {
    require(!keys.columns.contains("gen"),
      "'gen' is the generation partition column — rename the key column")
    commitGeneration(spark, eqDeleteDir, keys.distinct())
  }

  /** Merge-on-read scan with equality deletes: `dataDir` minus every
    * row whose values on the delete table's columns match a recorded
    * key tuple. Null-safe equality (`<=>`) per column — a tombstone
    * with a null key component deletes exactly the rows null there,
    * matching SQL MERGE semantics rather than silently matching
    * nothing. Broadcast by on-disk size, like [[read]]. */
  def readWithKeyDeletes(spark: SparkSession, dataDir: String,
      eqDeleteDir: String,
      broadcastByteLimit: Long = 256L * 1024 * 1024): DataFrame = {
    val data = spark.read.parquet(dataDir)
    if (!hasDeletes(spark, eqDeleteDir)) return data
    val keys = deleteTable(spark, eqDeleteDir)
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "equality delete table has no key columns")
    require(keyCols.forall(data.columns.contains),
      s"equality delete key columns ${keyCols.mkString(",")} missing from data")
    val delsSided = sided(spark, eqDeleteDir,
      keys.toDF(keyCols.map(c => s"__eq_$c"): _*), broadcastByteLimit)
    val cond = keyCols.map(c => data(c) <=> delsSided(s"__eq_$c")).reduce(_ && _)
    data.join(delsSided, cond, "left_anti")
  }

  /** The full merge-on-read stack: position deletes AND equality
    * deletes applied to one scan — the shape of a table maintained by
    * both a batch deleter (predicate scans → positions) and a CDC
    * stream (tombstones → keys). Either dir may be absent/empty. */
  def readMerged(spark: SparkSession, dataDir: String, posDeleteDir: String,
      eqDeleteDir: String,
      broadcastByteLimit: Long = 256L * 1024 * 1024): DataFrame = {
    val afterPos = read(spark, dataDir, posDeleteDir, broadcastByteLimit)
    if (!hasDeletes(spark, eqDeleteDir)) return afterPos
    val keys = deleteTable(spark, eqDeleteDir)
    val keyCols = keys.columns.toSeq
    // same contract errors as readWithKeyDeletes — a schema mismatch
    // must fail loudly here, not as a raw resolution AnalysisException
    require(keyCols.nonEmpty, "equality delete table has no key columns")
    require(keyCols.forall(afterPos.columns.contains),
      s"equality delete key columns ${keyCols.mkString(",")} missing from data")
    val delsSided = sided(spark, eqDeleteDir,
      keys.toDF(keyCols.map(c => s"__eq_$c"): _*), broadcastByteLimit)
    val cond = keyCols.map(c => afterPos(c) <=> delsSided(s"__eq_$c")).reduce(_ && _)
    afterPos.join(delsSided, cond, "left_anti")
  }
}
