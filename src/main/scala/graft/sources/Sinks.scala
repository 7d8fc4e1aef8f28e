package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.core.Commit
import graft.schemas.Checks

/** Sinks — SURVEY §2.1 S8/S9.
  *
  * The reference writes `.parquet.tmp` then renames for atomicity
  * (build_daily_tmax.py:146-151). The hourly and daily sinks do the
  * same through `graft.core.Commit.replace`: Spark writes a stage
  * directory beside the target, and the stage replaces the target only
  * after the write succeeded and every pending check on the frame
  * passed, so a failed or rejected write leaves the previous table in
  * place. Partition layout follows §4: Hive-style station_id/year
  * directories so station- and time-sliced reads prune partitions at
  * planning time — the manual per-year file naming of the reference
  * (isd_<year>.parquet) done by the engine instead.
  *
  * Checks contract: a frame carrying deferred checks
  * ([[graft.schemas.Checks.deferred]], e.g. `CleanHourly`'s output) is
  * enforced here, by the write's own job. The other sinks do not
  * enforce; consuming a checked frame there (or through a raw
  * `DataFrameWriter`) needs [[graft.schemas.Checks.enforce]] around it.
  */
object Sinks {

  /** Write `df` as the whole of `dir` with `write`, staged, enforcing
    * the frame's pending checks before it is published. */
  private def replaceChecked(df: DataFrame, dir: String)(write: String => Unit): Unit =
    Commit.replace(df.sparkSession, dir)(stage => Checks.enforce(df)(write(stage)))

  /** Canonical hourly_obs layout: partitioned by (station_id, year). */
  def writeHourlyObs(df: DataFrame, dir: String): Unit =
    replaceChecked(df, dir) { stage =>
      df.withColumn("year", year(col("ts_utc")))
        .write.partitionBy("station_id", "year")
        .parquet(stage)
    }

  /** Daily tables: partitioned by station only (small per-station files;
    * a year split would fragment 365-row partitions). Rows are sorted by
    * date WITHIN each station file so date-range predicates prune row
    * groups from footer min/max stats — the [[writeSortedBy]] property
    * applied to the production daily layout (this is the CLI's default
    * build-daily sink). */
  def writeDaily(df: DataFrame, dir: String): Unit =
    replaceChecked(df, dir) { stage =>
      df.repartition(col("station_id"))
        .sortWithinPartitions(col("station_id"), col("date_local"))
        .write.partitionBy("station_id").parquet(stage)
    }

  /** Bucketed layout for co-located joins: both sides of a recurring
    * fact⋈fact join written with the SAME bucket count on the SAME key
    * hash-place matching keys in matching buckets, so the join reads
    * bucket i ⋈ bucket i with NO exchange on either side — the shuffle
    * is paid once at write time, then amortized over every later join.
    * This is the disk-layout analogue of the reference's per-station
    * directory scheme, and the dominant cost lever for repeated joins at
    * 100 TB. Requires saveAsTable (bucket metadata lives in the
    * catalog). */
  def writeBucketed(
      df: DataFrame, table: String, bucketCol: String, numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Parquet bloom filters for point-lookup keys that sorting cannot
    * serve: writeSortedBy/z-order give min/max pruning on the CLUSTERED
    * dims, but an equality probe on a high-cardinality unclustered key
    * (doc UUID, content hash, user id in a time-sorted log) matches
    * every row group's min/max span and reads the whole table. A
    * split-block bloom filter per row group answers "key definitely
    * absent" from the footer, so the reader skips groups without
    * decoding a page — at 100 TB a needle lookup touches the handful
    * of groups whose filter fires instead of every file.
    *
    * Dictionary encoding gives the same skip for free on LOW-cardinality
    * columns (the reader probes the dictionary page); blooms are for
    * keys whose dictionary would not fit (parquet falls back to plain
    * encoding past parquet.dictionary.page.size) — exactly the
    * UUID/hash shape. `ndv` sizes the filter (~1.2 KB per 1k NDV per
    * group at the default 1% FPP); overshooting wastes footer bytes,
    * undershooting inflates FPP, neither breaks correctness. */
  def writeWithBloom(
      df: DataFrame, dir: String, bloomNdv: Map[String, Long],
      numFiles: Int = 0, mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(bloomNdv.nonEmpty, "writeWithBloom needs at least one bloom column")
    val base = (if (numFiles > 0) df.repartition(numFiles) else df).write.mode(mode)
    bloomNdv.foldLeft(base) { case (w, (c, ndv)) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }.parquet(dir)
  }

  /** Sort-on-write for row-group pruning: order rows by the columns
    * later queries filter on, so each parquet row group covers a NARROW
    * min/max span of those columns and a selective predicate skips
    * whole row groups from footer statistics alone — the sub-partition
    * complement to directory partitioning (partitions prune at
    * planning time, sorted row groups prune inside each file at scan
    * time). At 100 TB this is the difference between reading a
    * partition and reading the two row groups of it that matter.
    * `repartitionByRange` first so files don't overlap either — a
    * range scan then touches few FILES, not just few row groups. */
  def writeSortedBy(df: DataFrame, dir: String, sortCols: Seq[String],
      numFiles: Int = 0, mode: SaveMode = SaveMode.Overwrite): Unit =
    writeSortedAs(df, dir, sortCols, "parquet", numFiles, mode)

  private def writeSortedAs(df: DataFrame, dir: String, sortCols: Seq[String],
      format: String, numFiles: Int, mode: SaveMode): Unit = {
    require(sortCols.nonEmpty, "sorted write needs at least one sort column")
    val cols = sortCols.map(col)
    val ranged =
      if (numFiles > 0) df.repartitionByRange(numFiles, cols: _*)
      else df.repartitionByRange(cols: _*)
    ranged.sortWithinPartitions(cols: _*).write.mode(mode).format(format).save(dir)
  }

  /** ORC interchange sink (sorted, like writeSortedBy): the engine's
    * canonical format is parquet, but warehouse neighbors (Hive/Trino
    * estates) hand over ORC — Spark's native ORC source keeps the same
    * scan-time contract (column pruning + predicate pushdown into
    * row-group stats), so sorted ORC prunes like sorted parquet.
    * `SinksSpec` pins the round-trip AND that a range predicate shows
    * up as PushedFilters in the ORC scan. */
  def writeOrcSortedBy(df: DataFrame, dir: String, sortCols: Seq[String],
      numFiles: Int = 0, mode: SaveMode = SaveMode.Overwrite): Unit =
    writeSortedAs(df, dir, sortCols, "orc", numFiles, mode)

  /** Forecast parts keyed by issue time (the reference's
    * part-YYYY-MM-DDTHH.parquet, openmeteo_daily_forecast.py:270-274):
    * dynamic-partition append — re-ingesting one issue hour overwrites
    * only that partition. */
  def appendForecastPartition(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      df.withColumn("issue_hour", date_format(col("issue_time_utc"), "yyyy-MM-dd'T'HH"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("station_id", "issue_hour")
        .parquet(dir)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }
}
