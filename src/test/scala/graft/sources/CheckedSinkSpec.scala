package graft.sources

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.core.{Commit, CrashChecks}
import graft.ops.{CleanHourly, DailyTmax}
import graft.schemas.Checks

/** Deferred checks enforced by the sink that writes them: every hourly
  * rule that can fire, through `CleanHourly` and `Sinks.writeHourlyObs`,
  * throws the message the eager clean stage threw and leaves the
  * previous table byte for byte; the staged replace under every crash;
  * and the Spark job counts of the checked paths. */
class CheckedSinkSpec extends CrashChecks {
  import spark.implicits._
  import CheckedSinkSpec._

  private def frame(rows: Obs*): DataFrame =
    (Seq(obs(0), obs(1), obs(2, st = "KJFK")) ++ rows)
      .toDF("ts_utc", "station_id", "lat", "lon", "temp_c", "source", "qc_flags")

  /** Every file under `dir`, relative path → bytes. */
  private def contents(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def entriesBeside(dir: String): Set[String] = {
    val list = Files.list(Paths.get(dir).getParent)
    try list.iterator.asScala.map(_.getFileName.toString).toSet finally list.close()
  }

  /** A pass directory holding a previously written hourly table. */
  private def previous(): String = {
    val dir = s"${Files.createTempDirectory("graft_checked_sink")}/hourly"
    Sinks.writeHourlyObs(CleanHourly(frame()), dir)
    dir
  }

  private def rows(dir: String): Seq[String] =
    spark.read.parquet(Commit.current(spark, dir))
      .select("ts_utc", "station_id", "lat", "lon", "temp_c", "source", "qc_flags")
      .collect().map(_.toString).sorted.toSeq

  private def rejected(bad: DataFrame, message: String)(write: (DataFrame, String) => Unit): Unit = {
    val dir = previous()
    val before = contents(dir)
    val e = intercept[IllegalArgumentException](write(bad, dir))
    assert(e.getMessage == message)
    assert(contents(dir) == before, "the previous table changed")
    assert(entriesBeside(dir) == Set("hourly"), s"left beside the table: ${entriesBeside(dir)}")
  }

  private def rejectedByClean(bad: Obs, message: String): Unit =
    rejected(frame(bad), message)((df, dir) => Sinks.writeHourlyObs(CleanHourly(df), dir))

  // The messages are the eager clean stage's for the same input, as the
  // stage threw them before its checks moved onto the write.
  private val ruleCases = Seq(
    ("require_no_nulls(ts_utc)", "input", obs(3, ts = false),
      "[hourly_obs] require_no_nulls(ts_utc) failed for 1 rows (sample: ts_utc)"),
    ("require_no_nulls(station_id)", "input", obs(3, st = null),
      "[hourly_obs] require_no_nulls(station_id) failed for 1 rows (sample: station_id)"),
    ("require_no_nulls(source)", "input", obs(3, src = null),
      "[hourly_obs] require_no_nulls(source) failed for 1 rows (sample: source)"),
    ("require_no_nulls(qc_flags)", "input", obs(3, qc = None),
      "[hourly_obs] require_no_nulls(qc_flags) failed for 1 rows (sample: qc_flags)"),
    ("require_nonnegative(qc_flags)", "input", obs(3, qc = Some(-1L)),
      "[hourly_obs] require_nonnegative(qc_flags) failed for 1 rows (sample: -1)"),
    ("require_range(lat)", "output", obs(3, lat = Some(95.0)),
      "[hourly_obs] require_range(lat in [-90.0,90.0]) failed for 1 rows (sample: 95.0)"),
    ("require_range(lon)", "output", obs(3, lon = Some(-200.0)),
      "[hourly_obs] require_range(lon in [-180.0,180.0]) failed for 1 rows (sample: -200.0)"))

  ruleCases.foreach { case (rule, side, bad, message) =>
    test(s"$rule on the clean stage's $side is enforced by writeHourlyObs") {
      rejectedByClean(bad, message)
    }
  }

  test("input-rule failures are reported before output-rule failures, all input rules together") {
    // a null key (input) and an out-of-range lat (output) in one frame
    rejectedByClean(obs(3, st = null, lat = Some(95.0)),
      "[hourly_obs] require_no_nulls(station_id) failed for 1 rows (sample: station_id)")
    rejectedByClean(obs(3, src = null, qc = Some(-4L)),
      "[hourly_obs] require_no_nulls(source) failed for 1 rows (sample: source); " +
        "[hourly_obs] require_nonnegative(qc_flags) failed for 1 rows (sample: -4)")
  }

  test("a checked frame an earlier action already ran is enforced by its own write") {
    val cleaned = CleanHourly(frame(obs(3, lat = Some(95.0))))
    assert(cleaned.count() == 4)
    rejected(cleaned, "[hourly_obs] require_range(lat in [-90.0,90.0]) failed for 1 rows (sample: 95.0)")(
      (df, dir) => Sinks.writeHourlyObs(df, dir))
  }

  test("schema errors still throw at the CleanHourly call") {
    val e = intercept[IllegalArgumentException](CleanHourly(frame().drop("source")))
    assert(e.getMessage == "[hourly_obs] require_columns(source) failed for 1 rows (sample: source)")
  }

  test("writeDaily enforces a daily frame's deferred checks") {
    val daily = DailyTmax(spark.read.parquet(previous()), "America/New_York")
    val dir = s"${Files.createTempDirectory("graft_checked_daily")}/daily"
    Sinks.writeDaily(daily, dir)
    val before = contents(dir)
    val bad = Checks("daily_tmax", daily).requireRange("tmax_c", -90, 10).deferred()
    val e = intercept[IllegalArgumentException](Sinks.writeDaily(bad, dir))
    assert(e.getMessage.startsWith("[daily_tmax] require_range(tmax_c in [-90.0,10.0]) failed for 2 rows"))
    assert(contents(dir) == before)
    assert(entriesBeside(dir) == Set("daily"))
  }

  test("Checks.enforce: a raw write is checked; an action that skips the frame fails loudly") {
    val cleaned = CleanHourly(frame(obs(3, lon = Some(-200.0))))
    val out = s"${Files.createTempDirectory("graft_enforce")}/raw"
    val e = intercept[IllegalArgumentException](Checks.enforce(cleaned)(cleaned.write.parquet(out)))
    assert(e.getMessage == "[hourly_obs] require_range(lon in [-180.0,180.0]) failed for 1 rows (sample: -200.0)")
    val fresh = CleanHourly(frame())
    intercept[IllegalStateException](Checks.enforce(fresh)(()))
    assert(Checks.enforce(fresh)(fresh.count()) == 3)
  }

  test("requireUnique on DailyTmax output is proven from the plan; a union still runs its groupBy") {
    val daily = DailyTmax(spark.read.parquet(previous()), "America/New_York")
    val (unique, jobs) = jobsOf(Checks("daily_tmax", daily).requireUnique("date_local", "station_id"))
    assert(unique == Right(()) && jobs.isEmpty, s"${jobs.size} jobs")
    val dup = Checks("daily_tmax", daily.unionByName(daily)).requireUnique("date_local", "station_id")
    assert(dup.left.exists(_.rule == "require_unique(date_local,station_id)"))
  }

  test("writeHourlyObs over an existing table: every crash reads the previous table or the next") {
    val template = previous()
    val next = CleanHourly(frame(obs(3), obs(4, st = "KJFK")))
    val n = everyCrash(() => faultyCopy(template))(Sinks.writeHourlyObs(next, _))(rows)
    info(s"$n commit mutations crashed")
  }

  test("job budgets: CleanHourly → writeHourlyObs and DailyTmax → validateDailyTmax → writeDaily") {
    val hourly = (0 until 72).flatMap(h => Seq(obs(h), obs(h, st = "KJFK")))
      .toDF("ts_utc", "station_id", "lat", "lon", "temp_c", "source", "qc_flags")
    val pass = Files.createTempDirectory("graft_budget").toString
    val (cleaned, cleanJobs) = jobsOf(CleanHourly(hourly))
    assert(cleanJobs.isEmpty, s"CleanHourly.apply started ${cleanJobs.size} jobs")
    // with eager clean-stage checks, CleanHourly + writeHourlyObs ran 9
    // jobs on this fixture: 6 in the two validation aggregates, 3 in the
    // write
    val (_, hourlyJobs) = jobsOf(Sinks.writeHourlyObs(cleaned, s"$pass/hourly"))
    assert(hourlyJobs.size <= 3, s"${hourlyJobs.size} jobs")
    // a rejected write computes its checks in the same jobs
    val (_, rejectedJobs) = jobsOf(intercept[IllegalArgumentException](
      Sinks.writeHourlyObs(CleanHourly(hourly.unionByName(frame(obs(100, lat = Some(95.0))))),
        s"$pass/rejected")))
    assert(rejectedJobs.size <= 3, s"${rejectedJobs.size} jobs")
    val daily = DailyTmax(spark.read.parquet(s"$pass/hourly"), "America/New_York")
    // with the uniqueness groupBy this path ran 8 jobs on this fixture:
    // 5 in validateDailyTmax (its rule aggregate and the groupBy), 3 in
    // the write
    val (_, dailyJobs) = jobsOf(Sinks.writeDaily(Checks.validateDailyTmax(daily), s"$pass/daily"))
    assert(dailyJobs.size <= 6, s"${dailyJobs.size} jobs")
  }
}

object CheckedSinkSpec {
  type Obs = (Timestamp, String, Option[Double], Option[Double], Option[Double], String, Option[Long])

  /** One hourly reading at hour `h` of 2024-07-01, valid unless told. */
  def obs(h: Int, st: String = "KLGA", lat: Option[Double] = Some(40.78),
      lon: Option[Double] = Some(-73.87), src: String = "isd", qc: Option[Long] = Some(0L),
      ts: Boolean = true): Obs =
    (if (ts) new Timestamp(Timestamp.valueOf("2024-07-01 00:00:00").getTime + h * 3600000L) else null,
      st, lat, lon, Some(20.0 + h % 24), src, qc)
}
