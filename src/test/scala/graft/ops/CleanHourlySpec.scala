package graft.ops

import java.sql.Timestamp
import graft.SparkSpec
import graft.schemas.QcFlags

/** Clean-stage semantics: keep-first dedup, flag-don't-delete,
  * out-of-range nullify, spike flagging (clean/clean_hourly.py). */
class CleanHourlySpec extends SparkSpec {
  import spark.implicits._

  private def obs(rows: Seq[(String, Double, String)]) =
    rows.map { case (ts, t, src) =>
      (Timestamp.valueOf(ts), "KLGA", Option(40.78), Option(-73.87), Option(t), src, 0L)
    }.toDF("ts_utc", "station_id", "lat", "lon", "temp_c", "source", "qc_flags")

  test("dedup keeps exactly one row per (station, ts) with deterministic tiebreak") {
    val df = obs(Seq(
      ("2024-07-01 00:00:00", 20.0, "a_first"),
      ("2024-07-01 00:00:00", 99.0, "b_second"),
      ("2024-07-01 01:00:00", 21.0, "a_first")))
    val out = CleanHourly.dedup(df).orderBy("ts_utc").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("temp_c") == 20.0) // kept the tiebreak-first row
  }

  test("out-of-range temps are flagged AND nulled; in-range untouched") {
    val df = obs(Seq(
      ("2024-07-01 00:00:00", 20.0, "isd"),
      ("2024-07-01 01:00:00", 99.0, "isd"),
      ("2024-07-01 02:00:00", -95.0, "isd")))
    val out = CleanHourly.flagOutOfRange(df).orderBy("ts_utc").collect()
    assert(out(0).getAs[Double]("temp_c") == 20.0 && out(0).getAs[Long]("qc_flags") == 0L)
    assert(out(1).isNullAt(out(1).fieldIndex("temp_c")))
    assert((out(1).getAs[Long]("qc_flags") & QcFlags.OutOfRange) != 0)
    assert(out(2).isNullAt(out(2).fieldIndex("temp_c")))
  }

  test("spike flagging marks |diff| > 15 but never deletes; per-station isolation") {
    val df = Seq(
      (Timestamp.valueOf("2024-07-01 00:00:00"), "KLGA", Option(40.78), Option(-73.87), Option(20.0), "isd", 0L),
      (Timestamp.valueOf("2024-07-01 01:00:00"), "KLGA", Option(40.78), Option(-73.87), Option(40.0), "isd", 0L),
      // KJFK at 01:00 is 10.0 — would be a "spike" vs KLGA's 40.0 if the
      // diff ran across stations (the reference's single-station gap)
      (Timestamp.valueOf("2024-07-01 01:30:00"), "KJFK", Option(40.64), Option(-73.78), Option(10.0), "isd", 0L)
    ).toDF("ts_utc", "station_id", "lat", "lon", "temp_c", "source", "qc_flags")
    val out = CleanHourly.flagSpikes(df).orderBy("station_id", "ts_utc").collect()
    assert(out(0).getAs[Long]("qc_flags") == 0L)                     // KJFK lone row
    assert(out(1).getAs[Long]("qc_flags") == 0L)                     // KLGA first
    assert((out(2).getAs[Long]("qc_flags") & QcFlags.SpikeDetected) != 0) // 20→40
    assert(out(2).getAs[Double]("temp_c") == 40.0)                   // not deleted
  }

  test("clean pipeline reaches a fixed point after one extra pass") {
    // Matches the reference's actual behavior (not its docstring): an
    // out-of-range value is nullified with only the OOR flag on the first
    // pass; a re-run then adds MISSING for the now-null temp (the
    // reference's flag_missing would do the same). From the second pass
    // on, output is stable.
    val df = obs(Seq(
      ("2024-07-01 00:00:00", 20.0, "isd"),
      ("2024-07-01 00:00:00", 22.0, "zzz"),
      ("2024-07-01 01:00:00", 99.0, "isd"),
      ("2024-07-01 02:00:00", 21.0, "isd")))
    val once = CleanHourly(df)
    assert(once.count() == 3) // dedup removed one
    val onceRows = once.orderBy("ts_utc").collect()
    assert((onceRows(1).getAs[Long]("qc_flags") & QcFlags.OutOfRange) != 0)
    val twice = CleanHourly(once)
    val thrice = CleanHourly(twice)
    assert(twice.orderBy("ts_utc").collect().toSeq == thrice.orderBy("ts_utc").collect().toSeq)
  }

  test("clean pipeline is idempotent on data with no out-of-range values") {
    val df = obs(Seq(
      ("2024-07-01 00:00:00", 20.0, "isd"),
      ("2024-07-01 00:00:00", 22.0, "zzz"),
      ("2024-07-01 02:00:00", 21.0, "isd")))
    val once = CleanHourly(df)
    val twice = CleanHourly(once)
    assert(once.orderBy("ts_utc").collect().toSeq == twice.orderBy("ts_utc").collect().toSeq)
  }

  test("the full stage emits unique (station, ts) keys from planted duplicates") {
    // apply() no longer runs the uniqueness groupBy: dedup must hold it
    // by construction, including ties on source and null-vs-reading ties
    def row(ts: String, st: String, t: Option[Double], src: String) =
      (Timestamp.valueOf(ts), st, Option(40.78), Option(-73.87), t, src, 0L)
    val df = Seq(
      row("2024-07-01 00:00:00", "KLGA", None, "isd"),        // tie on source,
      row("2024-07-01 00:00:00", "KLGA", Some(20.0), "isd"),  // null vs reading
      row("2024-07-01 00:00:00", "KLGA", Some(20.0), "isd"),  // exact copy
      row("2024-07-01 00:00:00", "KJFK", Some(18.0), "isd"),  // same ts, other station
      row("2024-07-01 01:00:00", "KLGA", None, "isd"),        // all-null tie
      row("2024-07-01 01:00:00", "KLGA", None, "isd"),
      row("2024-07-01 02:00:00", "KLGA", Some(22.0), "zzz"),
      row("2024-07-01 02:00:00", "KLGA", Some(21.0), "aaa"),
      row("2024-07-01 02:00:00", "KLGA", Some(23.0), "zzz")
    ).toDF("ts_utc", "station_id", "lat", "lon", "temp_c", "source", "qc_flags")
      .repartition(3)
    val out = CleanHourly(df).collect()
    val keys = out.map(r => (r.getAs[String]("station_id"), r.getAs[Timestamp]("ts_utc")))
    assert(out.length == 4 && keys.distinct.length == 4)
    val temp = out.map(r => (r.getAs[String]("station_id"), r.getAs[Timestamp]("ts_utc").toString) ->
      Option(r.getAs[java.lang.Double]("temp_c")).map(_.doubleValue)).toMap
    assert(temp(("KLGA", "2024-07-01 00:00:00.0")) == Some(20.0)) // the reading beats null
    assert(temp(("KLGA", "2024-07-01 01:00:00.0")).isEmpty)
    assert(temp(("KLGA", "2024-07-01 02:00:00.0")) == Some(21.0)) // source order first
  }
}
