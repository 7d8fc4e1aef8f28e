package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Commit

/** Persisted dedup-admission index — the write-once derivable columns
  * of a kept corpus, stored AT ADMISSION so that incremental
  * batch-vs-corpus dedup ([[DedupDocs.incrementalIndexed]]) joins
  * precomputed state instead of re-hashing the corpus text on every
  * batch:
  *
  *   fps    (doc_id, fp)      content fingerprint, md5 of text
  *   bands  (doc_id, bucket)  MinHash-LSH band buckets
  *   grams  (doc_id, gram)    distinct 60-bit trigram hashes
  *   meta   (rows_per_band)   the banding the buckets were hashed with
  *
  * The four are one generation of `dir` ([[graft.core.Commit]]).
  *
  * Each table is written range-partitioned and row-group-sorted by its
  * JOIN key (fp / bucket / doc_id), so a batch's probe of a 100 TB
  * index prunes files and row groups from footer stats instead of
  * scanning the index end to end. (On a cluster with a metastore these
  * become `bucketBy` tables and the probe joins shuffle-free; the
  * path-parquet spelling keeps the same sort-pruning property without
  * catalog state.)
  *
  * `append` is the steady-state maintenance op: after a batch is
  * admitted, ONLY the admitted docs' rows are appended — the index is
  * never rebuilt. Appended files carry the same per-file sort, so
  * pruning holds within every append's files; [[compact]] offline
  * when file counts grow.
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
    val spark = docs.sparkSession
    Commit.newGeneration(spark, dir) { gen =>
      writeFrames(build(docs, rowsPerBand), gen, SaveMode.Overwrite)
      writeMeta(spark, gen, rowsPerBand)
    }
  }

  /** Append the index rows of newly ADMITTED docs — the per-batch
    * maintenance op; existing index files are untouched and the new
    * rows are banded with the STORED rowsPerBand (a caller cannot
    * desynchronize appends). */
  def append(admitted: DataFrame, dir: String): Unit = {
    val live = Commit.current(admitted.sparkSession, dir)
    val rpb = storedRowsPerBand(admitted.sparkSession, live)
    writeFrames(build(admitted, rpb), live, SaveMode.Append)
  }

  private def writeFrames(f: Frames, dir: String, mode: SaveMode): Unit = {
    // writeSortedBy's repartitionByRange runs a range-SAMPLING pass that
    // re-executes the frame's lineage before the write pass re-executes
    // it again — and these lineages carry the minhash-signature and
    // shingle computations, the expensive part of index derivation.
    // Cache each frame across its sample+write pair (lifecycle contained
    // here: unpersist before return), so derivation runs once per table.
    def sortedCached(df: DataFrame, sub: String, keys: Seq[String]): Unit = {
      val cached = df.persist()
      try graft.sources.Sinks.writeSortedBy(cached, s"$dir/$sub", keys, mode = mode)
      finally cached.unpersist(false)
    }
    sortedCached(f.fps, "fps", Seq("fp"))
    sortedCached(f.bands, "bands", Seq("bucket"))
    sortedCached(f.grams, "grams", Seq("doc_id", "gram"))
  }

  /** Compact appended files: re-sort and rewrite each table by its
    * join key so footer-stat pruning holds across the WHOLE index
    * again, not just within each append's files. Offline maintenance —
    * run when the file count per table grows past what the probe's
    * file-listing budget tolerates. The rewrite lands as one new
    * generation; an [[append]] must not run concurrently. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val live = Commit.current(spark, dir)
    val rpb = storedRowsPerBand(spark, live)
    Commit.newGeneration(spark, dir) { gen =>
      Seq("fps" -> Seq("fp"), "bands" -> Seq("bucket"), "grams" -> Seq("doc_id", "gram"))
        .foreach { case (t, keys) =>
          graft.sources.Sinks.writeSortedBy(spark.read.parquet(s"$live/$t"), s"$gen/$t", keys)
        }
      writeMeta(spark, gen, rpb)
    }
  }

  private def writeMeta(spark: SparkSession, dir: String, rowsPerBand: Int): Unit = {
    import spark.implicits._
    Seq(rowsPerBand).toDF("rows_per_band")
      .repartition(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/meta")
  }

  private def storedRowsPerBand(spark: SparkSession, live: String): Int =
    spark.read.parquet(s"$live/meta").head.getInt(0)

  /** Open a stored index (banding parameter from the stored meta). */
  def read(spark: SparkSession, dir: String): Frames = {
    val live = Commit.current(spark, dir)
    Frames(
      fps = spark.read.parquet(s"$live/fps"),
      bands = spark.read.parquet(s"$live/bands"),
      grams = spark.read.parquet(s"$live/grams"),
      rowsPerBand = storedRowsPerBand(spark, live))
  }
}
