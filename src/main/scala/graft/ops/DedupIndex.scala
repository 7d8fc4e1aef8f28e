package graft.ops

import java.io.FileNotFoundException

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Commit, IndexMeta}

/** Persisted dedup-admission index — the write-once derivable columns
  * of a kept corpus, stored AT ADMISSION so that incremental
  * batch-vs-corpus dedup ([[DedupDocs.incrementalIndexed]]) joins
  * precomputed state instead of re-hashing the corpus text on every
  * batch:
  *
  *   fps          (doc_id, fp)      content fingerprint, md5 of text
  *   bands        (doc_id, bucket)  MinHash-LSH band buckets
  *   grams        (doc_id, gram)    distinct 60-bit trigram hashes
  *   meta         JSON file         rows_per_band and each table's schema
  *   deltas/<id>  fps, bands, grams of one [[append]]
  *
  * All of it is one generation of `dir` ([[graft.core.Commit]]). The
  * `meta` file ([[graft.core.IndexMeta]]) lets [[read]] open the tables
  * with their known schema and take the banding on the driver, so
  * opening the index runs no Spark job. A layout whose `meta` is a
  * one-row parquet table (written before the JSON file, or laid out
  * without generations) still opens, by schema inference.
  *
  * [[write]] and [[compact]] write each table range-partitioned and
  * row-group-sorted by its JOIN key (fp / bucket / doc_id), so a batch's
  * probe of a 100 TB index prunes files and row groups from footer stats
  * instead of scanning the index end to end. (On a cluster with a
  * metastore these become `bucketBy` tables and the probe joins
  * shuffle-free; the path-parquet spelling keeps the same sort-pruning
  * property without catalog state.)
  *
  * [[append]] is the steady-state maintenance op: after a batch is
  * admitted, ONLY the admitted docs' rows are written, as one delta —
  * the index is never rebuilt. The delta's tables are sorted within
  * their partitions (no range-sampling pass), staged under
  * `deltas/_stage-<uuid>` and published with one `Commit.publish` as
  * `deltas/<id>`, where `<id>` is the delta's row count and an
  * order-independent digest of its (doc_id, fp) rows. So a reader sees
  * all of a delta or none of it, and a retry of an append that already
  * landed meets its own `<id>`, drops its stage and adds nothing. An
  * append of the same rows after a [[compact]] lands again: compaction
  * forgets delta ids.
  *
  * Each delta adds one path per table to every read. Past 32 paths per
  * table (`spark.sql.sources.parallelPartitionDiscovery.threshold`)
  * Spark lists the files with a job; [[compact]] folds the deltas back
  * into the base tables.
  *
  * Derivation cost: [[build]] scans the doc text once per table (three
  * narrow map-side passes at admission time, amortized over every
  * future batch the index serves).
  */
object DedupIndex {

  /** The index as DataFrames — what [[DedupDocs.incrementalIndexed]]
    * consumes; produced by [[build]] (fresh derivation) or [[read]]
    * (stored index). `rowsPerBand` travels WITH the frames: band
    * buckets hashed with a different banding are a disjoint value
    * space, so a write/probe mismatch would silently disable every
    * near-dup rejection — the parameter is index state, not a
    * call-site default. */
  final case class Frames(fps: DataFrame, bands: DataFrame, grams: DataFrame,
      rowsPerBand: Int)

  private val RowsPerBand = "rows_per_band"
  private val Deltas = "deltas"

  /** Each table with its frame and the join key it is sorted by. */
  private def tables(f: Frames): Seq[(String, DataFrame, Seq[String])] = Seq(
    ("fps", f.fps, Seq("fp")),
    ("bands", f.bands, Seq("bucket")),
    ("grams", f.grams, Seq("doc_id", "gram")))

  /** Derive the three index tables from (doc_id, text) docs. Null-text
    * docs index nothing (unknown content must never match anything —
    * the same contract as [[DedupDocs]]'s null handling). */
  def build(docs: DataFrame, rowsPerBand: Int = 4): Frames = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    Frames(
      fps = docs.select(col("doc_id"), md5(col("text")).as("fp"))
        .filter(col("fp").isNotNull),
      bands = DedupDocs.bandBuckets(docs, rowsPerBand),
      grams = DedupDocs.hashedGrams(docs),
      rowsPerBand = rowsPerBand)
  }

  /** Write a fresh index for a kept corpus as a new generation of
    * `dir`. `rowsPerBand` persists in `meta`; [[append]] and [[read]]
    * take it from there, never from a caller. */
  def write(docs: DataFrame, dir: String, rowsPerBand: Int = 4): Unit = {
    val f = build(docs, rowsPerBand)
    Commit.newGeneration(docs.sparkSession, dir) { gen =>
      // writeSortedBy's repartitionByRange runs a range-SAMPLING pass that
      // re-executes the frame's lineage before the write pass re-executes
      // it again — and these lineages carry the minhash-signature and
      // shingle computations, the expensive part of index derivation.
      // Cache each frame across its sample+write pair, so derivation runs
      // once per table.
      tables(f).foreach { case (t, df, keys) =>
        val cached = df.persist()
        try graft.sources.Sinks.writeSortedBy(cached, s"$gen/$t", keys)
        finally cached.unpersist(false)
      }
      describe(docs.sparkSession, gen, f)
    }
  }

  /** The generation's `meta` and its empty `deltas/`. */
  private def describe(spark: SparkSession, gen: String, f: Frames): Unit = {
    IndexMeta.write(spark, gen, IndexMeta.of(Map(RowsPerBand -> f.rowsPerBand),
      tables(f).map { case (t, df, _) => t -> df }: _*))
    val d = new Path(gen, Deltas)
    d.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(d)
  }

  /** Append the index rows of newly ADMITTED docs as one committed
    * delta of the live generation — the per-batch maintenance op;
    * existing index files are untouched and the new rows are banded with
    * the STORED rowsPerBand (a caller cannot desynchronize appends).
    * Fails, naming the table and the column, when the rows do not have
    * the index's schema. A batch with no fingerprint (no doc, or only
    * null texts) publishes nothing. */
  def append(admitted: DataFrame, dir: String): Unit = {
    val spark = admitted.sparkSession
    val live = Commit.current(spark, dir)
    val meta = IndexMeta.read(spark, live)
    val f = build(admitted, meta.param(RowsPerBand))
    tables(f).foreach { case (t, df, _) => meta.requireSchema(t, df) }
    val deltas = new Path(live, Deltas)
    val st = Commit.stage(deltas.toString)
    val fs = st.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // no `_SUCCESS` per table: the publish commits the delta
    def writeSorted(df: DataFrame, t: String, keys: Seq[String]): Unit =
      df.sortWithinPartitions(keys.map(col): _*).write
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(s"$st/$t")
    try {
      // the delta's name, observed on its fps write: the row count and
      // sum(xxhash64(doc_id, fp)) mod 2^64, exact in decimal
      val content = Observation(s"graft.dedup_index/${java.util.UUID.randomUUID()}")
      val (fpsName, fps, fpsKeys) = tables(f).head
      writeSorted(fps.observe(content, count(lit(1)),
        sum(xxhash64(col("doc_id"), col("fp")).cast("decimal(20,0)"))), fpsName, fpsKeys)
      val row = observed(spark, content)
      if (row.getLong(0) == 0L) fs.delete(st, true)
      else {
        tables(f).tail.foreach { case (t, df, keys) => writeSorted(df, t, keys) }
        val id = f"${row.getLong(0)}%d-${row.getDecimal(1).toBigInteger.longValue}%016x"
        try Commit.publish(spark, st, new Path(deltas, id))
        catch { case _: FileAlreadyExistsException => fs.delete(st, true) }
      }
    } catch {
      case NonFatal(e) =>
        try fs.delete(st, true) catch { case NonFatal(s) => e.addSuppressed(s) }
        throw e
    }
  }

  /** The row `o` observed on the write that just ran. */
  private def observed(spark: SparkSession, o: Observation): org.apache.spark.sql.Row = {
    if (!o.future.isCompleted)
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    o.future.value.flatMap(_.toOption).getOrElse(
      throw new IllegalStateException(s"the write did not report its observation ${o.name}"))
  }

  /** Compact the base tables and every delta: re-sort and rewrite each
    * table by its join key so footer-stat pruning holds across the WHOLE
    * index again, not just within each delta's files. Offline
    * maintenance — run when the deltas per table grow past what the
    * probe's file-listing budget tolerates. The rewrite lands as one new
    * generation; an [[append]] must not run concurrently. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val f = read(spark, dir)
    Commit.newGeneration(spark, dir) { gen =>
      tables(f).foreach { case (t, df, keys) =>
        graft.sources.Sinks.writeSortedBy(df, s"$gen/$t", keys)
      }
      describe(spark, gen, f)
    }
  }

  /** The published deltas of the live generation `live`, by name. */
  private def deltaPaths(spark: SparkSession, live: String): Seq[String] = {
    val d = new Path(live, Deltas)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(d).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.toString).sorted
    catch { case _: FileNotFoundException => Seq.empty }
  }

  /** Open a stored index: base tables plus every delta, with the
    * schemas and the banding parameter from the stored meta. */
  def read(spark: SparkSession, dir: String): Frames = {
    val live = Commit.current(spark, dir)
    val meta = IndexMeta.read(spark, live)
    val deltas = deltaPaths(spark, live)
    def open(t: String) = meta.open(spark, t, s"$live/$t" +: deltas.map(d => s"$d/$t"))
    Frames(open("fps"), open("bands"), open("grams"), meta.param(RowsPerBand))
  }
}
