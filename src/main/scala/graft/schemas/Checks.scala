package graft.schemas

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, TimestampType}

/** Validation failure: dataset, rule, offending count, sample values.
  * Mirrors the reference's error contract (schemas/validate.py:18-36). */
final case class CheckError(dataset: String, rule: String, count: Long, sample: Seq[String]) {
  def message: String = s"[$dataset] $rule failed for $count rows (sample: ${sample.mkString(", ")})"
}

/** The validator library — SURVEY §2.9 V1–V8 — as composable checks.
  * Schema-level checks (columns/dtypes) run driver-side on `df.schema`;
  * data-level checks compile into ONE aggregate over the data (a single
  * pass regardless of how many rules are attached), which is the
  * 100 TB-friendly shape: no per-rule scan. The aggregate runs one of
  * two ways, decoded alike:
  *
  *  - [[run]] / [[runOrThrow]] collect it now, as an action of its own;
  *  - [[deferred]] attaches it to the frame as a named observation, so
  *    the job that later consumes the frame computes it on the way.
  *    A deferred frame is enforced where an engine sink
  *    (`graft.sources.Sinks`) writes it: the sink stages its write, and
  *    publishes it only when every rule passes. A caller that consumes
  *    the frame any other way wraps that action in [[Checks.enforce]],
  *    or validates eagerly instead.
  */
final class Checks(dataset: String, df: DataFrame) {

  private var schemaErrors = List.empty[CheckError]
  /** (rule name, count expression, sample expression) */
  private var dataRules = List.empty[(String, Column, Column)]

  private def countWhere(rule: String, bad: Column, sampleCol: Column): this.type = {
    dataRules ::= ((rule, sum(when(bad, 1L).otherwise(0L)),
      slice(collect_list(when(bad, sampleCol.cast("string"))), 1, 5)))
    this
  }

  /** V1: required columns present. */
  def requireColumns(cols: String*): this.type = {
    val missing = cols.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      schemaErrors ::= CheckError(dataset, s"require_columns(${missing.mkString(",")})", missing.size.toLong, missing)
    this
  }

  /** V2: soft dtype compatibility. */
  def requireType(col0: String, t: DataType): this.type = {
    df.schema.find(_.name == col0).foreach { f =>
      if (f.dataType != t)
        schemaErrors ::= CheckError(dataset, s"require_dtype($col0: ${f.dataType} != $t)", 1, Seq(f.dataType.toString))
    }
    this
  }

  /** V5: timestamp columns are TimestampType (session TZ pinned UTC). */
  def requireTimestampUtc(cols: String*): this.type = {
    cols.foreach(c => requireType(c, TimestampType))
    this
  }

  /** V3: zero nulls. */
  def requireNoNulls(cols: String*): this.type = {
    cols.foreach(c => countWhere(s"require_no_nulls($c)", col(c).isNull, lit(c)))
    this
  }

  /** V6: values within [lo, hi]; nulls allowed unless also in requireNoNulls. */
  def requireRange(c: String, lo: Double, hi: Double): this.type =
    countWhere(s"require_range($c in [$lo,$hi])", col(c).isNotNull && (col(c) < lo || col(c) > hi), col(c))

  /** V6b: nonnegative. */
  def requireNonNegative(c: String): this.type =
    countWhere(s"require_nonnegative($c)", col(c).isNotNull && col(c) < 0, col(c))

  /** V7: |f(a) − b| ≤ tol on non-null pairs (°C/°F consistency, tol 0.2). */
  def requireClose(a: Column, b: Column, tol: Double, rule: String): this.type =
    countWhere(rule, a.isNotNull && b.isNotNull && abs(a - b) > tol, abs(a - b))

  /** V8: date column carries no time component (moot for DateType; kept
    * for timestamp-typed local dates). */
  def requireMidnightOnly(c: String): this.type =
    countWhere(s"require_date_no_time($c)",
      col(c).isNotNull && (hour(col(c)) =!= 0 || minute(col(c)) =!= 0 || second(col(c)) =!= 0), col(c))

  /** V4: key uniqueness. Free when the optimized plan already proves it
    * (some distinct-key set of the plan lies within `keys`: a group-by
    * on them, or on fewer); otherwise its own aggregation, a group-by
    * on the keys. */
  def requireUnique(keys: String*): Either[CheckError, Unit] =
    if (Checks.provenUnique(df, keys)) Right(())
    else {
      val dups = df.groupBy(keys.map(col): _*).count().filter(col("count") > 1)
      val sample = dups.limit(5).collect().map(_.mkString("(", ",", ")")).toSeq
      val n = if (sample.isEmpty) 0L else dups.count()
      if (n > 0) Left(CheckError(dataset, s"require_unique(${keys.mkString(",")})", n, sample))
      else Right(())
    }

  /** The data rules as aggregate columns, `cnt_<rule>` then
    * `sample_<rule>` per rule in attach order: what [[Checks.decode]]
    * reads back. */
  private def aggregates: List[Column] =
    dataRules.reverse.flatMap { case (name, cnt, sample) =>
      List(cnt.as(s"cnt_$name"), sample.as(s"sample_$name"))
    }

  /** Run all attached rules in one pass; Left(errors) if any fire.
    * Schema errors short-circuit — data rules may reference the very
    * columns that are missing. */
  def run(): Either[List[CheckError], DataFrame] = {
    if (schemaErrors.nonEmpty) return Left(schemaErrors.reverse)
    if (dataRules.isEmpty) return Right(df)
    val aggs = aggregates
    val dataErrors = Checks.decode(dataset, df.agg(aggs.head, aggs.tail: _*).collect()(0))
    if (dataErrors.nonEmpty) Left(dataErrors) else Right(df)
  }

  /** run() that throws — stage-boundary contract like the reference's
    * validate_*(df) raising ValueError. */
  def runOrThrow(): DataFrame = run() match {
    case Right(ok)   => ok
    case Left(errs)  => throw Checks.failure(errs)
  }

  /** The deferred run: schema errors throw now, as in [[runOrThrow]];
    * the data rules ride on the returned frame as the observation
    * `graft.checks/<dataset>/<id>`, starting no job. They are enforced
    * by [[Checks.enforce]] around the action that consumes the frame,
    * which every engine sink does. */
  def deferred(): DataFrame = {
    if (schemaErrors.nonEmpty) throw Checks.failure(schemaErrors.reverse)
    if (dataRules.isEmpty) df
    else {
      val aggs = aggregates
      df.observe(Observation(s"${Checks.Prefix}$dataset/${java.util.UUID.randomUUID()}"),
        aggs.head, aggs.tail: _*)
    }
  }
}

object Checks {
  def apply(dataset: String, df: DataFrame): Checks = new Checks(dataset, df)

  private val Prefix = "graft.checks/"

  private def failure(errs: Seq[CheckError]) =
    new IllegalArgumentException(errs.map(_.message).mkString("; "))

  /** The errors in one aggregate row of [[Checks.aggregates]]. SUM over
    * an empty frame is null — an empty dataset passes every data rule
    * (schemas/validate.py:103-105). */
  private def decode(dataset: String, row: Row): List[CheckError] =
    (0 until row.length by 2).toList.flatMap { i =>
      val n = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (n > 0) {
        val sample = Option(row.getSeq[String](i + 1)).getOrElse(Seq.empty).filter(_ != null)
        Some(CheckError(dataset, row.schema.fieldNames(i).stripPrefix("cnt_"), n, sample))
      } else None
    }

  private def provenUnique(df: DataFrame, keys: Seq[String]): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    val attrs = plan.output.filter(a => keys.contains(a.name))
    plan.distinctKeys.exists(_.forall(e => attrs.exists(_.semanticEquals(e))))
  }

  /** Run `action`, which must run `df`'s plan (a write, a collect),
    * then enforce every check [[Checks.deferred]] left pending in that
    * plan, from the action's own pass over the data: throws the message
    * [[Checks.runOrThrow]] would have, for the first check that fails,
    * deepest in the lineage first (an input check before the output
    * check of the stage that read it), so nothing is reported that an
    * eager stage would not have reached. Throws IllegalStateException
    * when `action` did not run the checks. The action's effects stand
    * either way: a sink runs it against a stage it discards. */
  def enforce[A](df: DataFrame)(action: => A): A = {
    val spark = df.sparkSession
    val pending = scala.collection.mutable.LinkedHashSet.empty[(String, Long)]
    df.queryExecution.analyzed.foreachUp {
      case c: CollectMetrics if c.name.startsWith(Prefix) => pending += c.name -> c.dataframeId
      case _ =>
    }
    val observations = pending.toList.map { case (name, id) =>
      name -> org.apache.spark.sql.graft.PlanBridge.observation(spark, name, id)
    }
    val out = action
    // the action's query reports its metrics on the listener bus
    if (observations.exists(!_._2.future.isCompleted))
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    observations.foreach { case (name, o) =>
      val row = o.future.value.flatMap(_.toOption).getOrElse(
        throw new IllegalStateException(s"check $name was not computed by the action on its frame"))
      val errs = decode(name.substring(Prefix.length, name.lastIndexOf('/')), row)
      if (errs.nonEmpty) throw failure(errs)
    }
    out
  }

  /** Structure-only hourly_obs rules for the clean stage's validate-in:
    * columns, timestamp type, no-null keys — but NOT temp_c range, which
    * the clean stage itself fixes (clean_hourly.py:248-249 "We check
    * structure and types, but NOT temp_c range"). */
  def hourlyObsStructure(df: DataFrame): Checks =
    Checks("hourly_obs", df)
      .requireColumns(Schemas.hourlyObs.fieldNames.toIndexedSeq: _*)
      .requireTimestampUtc("ts_utc")
      .requireNoNulls("ts_utc", "station_id", "source", "qc_flags")
      .requireNonNegative("qc_flags")

  /** The hourly_obs contract's row rules (schemas/hourly_obs.py:77-123):
    * everything but key uniqueness. */
  def hourlyObs(df: DataFrame): Checks =
    Checks("hourly_obs", df)
      .requireColumns(Schemas.hourlyObs.fieldNames.toIndexedSeq: _*)
      .requireTimestampUtc("ts_utc")
      .requireNoNulls("ts_utc", "station_id", "source", "qc_flags")
      .requireRange("temp_c", -90, 60)
      .requireRange("lat", -90, 90)
      .requireRange("lon", -180, 180)
      .requireNonNegative("qc_flags")

  /** Full hourly_obs contract, checked now. */
  def validateHourlyObs(df: DataFrame, requireUniqueKeys: Boolean = true): DataFrame = {
    val out = hourlyObs(df).runOrThrow()
    if (requireUniqueKeys)
      Checks("hourly_obs", df).requireUnique("ts_utc", "station_id").left.foreach(e =>
        throw failure(Seq(e)))
    out
  }

  /** Full daily_tmax contract (schemas/daily_tmax.py:77-134) incl. the
    * 0.2°F C/F consistency rule. */
  def validateDailyTmax(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val out = Checks("daily_tmax", df)
      .requireColumns(Schemas.dailyTmax.fieldNames.toIndexedSeq: _*)
      .requireNoNulls("date_local", "station_id", "tmax_c", "tmax_f", "coverage_hours", "source", "qc_flags")
      .requireRange("tmax_c", -90, 60)
      .requireRange("tmax_f", -130, 140)
      .requireRange("coverage_hours", 0, 24)
      .requireClose(c("tmax_c") * 9.0 / 5.0 + 32.0, c("tmax_f"), 0.2, "cf_consistency(0.2F)")
      .runOrThrow()
    Checks("daily_tmax", df).requireUnique("date_local", "station_id").left.foreach(e =>
      throw failure(Seq(e)))
    out
  }
}
