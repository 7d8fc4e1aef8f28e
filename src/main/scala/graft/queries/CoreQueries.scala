package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Scans, projections, filters, sorts, set ops, splits.
  * Covers SURVEY §2.1 S1, §2.2 P1–P9, §2.8 O1–O5, §2.4 D2, §2.9 V3/V4/V6.
  *
  * Scale notes: every filter here is a plain Column predicate on a parquet
  * scan — Catalyst pushes it to row-group min/max pruning. The only
  * global-window query (time split) is oracle parity for the reference's
  * positional split (eval/splits.py:38-76); the scalable variant used by
  * the pipeline library thresholds on timestamp quantiles instead
  * (see graft.ops.Splits).
  */
object CoreQueries {

  def all: Seq[OracleQuery] = Seq(
    // S1 + A1 flagship: pricing-summary aggregate (the daily-Tmax shape —
    // grouped max/sum/count — on the star schema).
    OracleQuery(
      "q1_agg",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            round(sum($"l_quantity"), 4).as("sum_qty"),
            round(sum($"l_extendedprice"), 4).as("sum_base"),
            round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4).as("sum_disc_price"),
            round(avg($"l_quantity"), 4).as("avg_qty"),
            round(max($"l_quantity"), 4).as("max_qty"),
            count(lit(1)).as("cnt"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 4) AS sum_qty,
             |  round(sum(l_extendedprice), 4) AS sum_base,
             |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
             |  round(avg(l_quantity), 4) AS avg_qty,
             |  round(max(l_quantity), 4) AS max_qty,
             |  count(*) AS cnt
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    ),

    // P1: column select + canonical reorder; O1 sort; O5 limit (total order
    // with tiebreak so LIMIT is deterministic).
    OracleQuery(
      "s1_scan_project",
      (s, d) => {
        import s.implicits._
        // ORDER BY every projected column: (l_orderkey, l_linenumber) is
        // NOT unique at sf0.1, and a LIMIT under a non-total order is
        // engine-dependent; full-row ordering makes remaining ties exact
        // duplicate rows, where either choice is the same multiset
        Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
          .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
          .limit(100)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
             |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag LIMIT 100""".stripMargin)
    ),

    // P2: half-open timestamp range [start, end) — pushed to parquet stats.
    OracleQuery(
      "p2_time_range",
      (s, d) => {
        import s.implicits._
        Tables.eventsInRange(s, d, "2024-01-08 00:00:00", "2024-01-22 00:00:00")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("cnt"), round(sum($"value"), 4).as("sum_value"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-22 00:00:00'
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // P3: inclusive date range on orders.
    OracleQuery(
      "p3_date_between",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .filter($"o_orderdate".between(
            lit("1996-01-01 00:00:00").cast("timestamp"),
            lit("1997-12-31 23:59:59").cast("timestamp")))
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("cnt"), round(avg($"o_totalprice"), 4).as("avg_price"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS cnt, round(avg(o_totalprice), 4) AS avg_price
             |FROM orders
             |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 23:59:59'
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),

    // P4: membership predicate.
    OracleQuery(
      "p4_membership",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .filter($"l_returnflag".isin("A", "R"))
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("cnt"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS cnt FROM lineitem
             |WHERE l_returnflag IN ('A', 'R')
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // P5 + P6: threshold gate and null-drop (coverage_hours >= 18 analogue).
    OracleQuery(
      "p5_threshold_nulldrop",
      (s, d) => {
        import s.implicits._
        Tables.customer(s, d)
          .na.drop(Seq("c_acctbal"))
          .filter($"c_acctbal" >= 5000.0)
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("cnt"), round(sum($"c_acctbal"), 4).as("sum_bal"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS cnt, round(sum(c_acctbal), 4) AS sum_bal
             |FROM customer WHERE c_acctbal IS NOT NULL AND c_acctbal >= 5000.0
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    ),

    // P7: bitmask predicate ((flags & bit) == 0 eligibility gate).
    OracleQuery(
      "p7_bitmask_pred",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .filter(($"l_linenumber".bitwiseAND(lit(3)) === 1) && $"l_quantity".isNotNull)
          .agg(count(lit(1)).as("cnt"), round(sum($"l_quantity"), 4).as("sum_qty"))
      },
      Some("""SELECT count(*) AS cnt, round(sum(l_quantity), 4) AS sum_qty
             |FROM lineitem WHERE (l_linenumber & 3) = 1 AND l_quantity IS NOT NULL""".stripMargin)
    ),

    // D2: distinct projection before a join (eval/data.py:142).
    OracleQuery(
      "d2_distinct_projection",
      (s, d) => {
        import s.implicits._
        Tables.customer(s, d)
          .select($"c_nationkey", $"c_mktsegment")
          .distinct()
          .orderBy($"c_nationkey", $"c_mktsegment")
      },
      Some("""SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
             |ORDER BY c_nationkey, c_mktsegment""".stripMargin)
    ),

    // O2: unionByName of per-source frames, then aggregate.
    OracleQuery(
      "o2_union_sources",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
        val a = ev.filter($"event_type" === "purchase").select($"user_id", $"value")
        val b = ev.filter($"event_type" === "error").select($"user_id", $"value")
        a.unionByName(b)
          .groupBy($"user_id")
          .agg(count(lit(1)).as("cnt"), round(sum($"value"), 4).as("sum_value"))
          .orderBy($"user_id")
      },
      Some("""WITH u AS (
             |  SELECT user_id, value FROM events WHERE event_type = 'purchase'
             |  UNION ALL
             |  SELECT user_id, value FROM events WHERE event_type = 'error'
             |)
             |SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS sum_value
             |FROM u GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),

    // O3/W6: positional 70/15/15 time split (eval/splits.py:38-76) —
    // EXACT row-position semantics (the oracle's row_number over the
    // time-sorted frame), but the Spark spelling is distributed: the
    // global rank comes from the bucketed prefix sum (ops/PrefixSum —
    // 64-way parallel window, no single-reducer sort anywhere), and the
    // order key packs (ts, event_id) losslessly as a zero-padded string
    // (micros-precision ts; lexicographic == the oracle's ORDER BY ts,
    // event_id for non-negative values at ANY id magnitude — unlike the
    // 2²²-packed long of the bytime entry, which trades id headroom for
    // a numeric key). The row count enters as two driver literals, not
    // a count() window over the whole frame.
    OracleQuery(
      "o3_time_split",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .withColumn("__g", lit(0))
          .withColumn("__one", lit(1L))
          .withColumn("__o", concat(
            lpad(unix_micros($"ts").cast("string"), 20, "0"),
            lpad($"event_id".cast("string"), 12, "0")))
        val n = ev.count()
        graft.ops.PrefixSum
          .withCumsum(ev, "__g", "__o", "__one", outCol = "rn",
            buckets = 64, knownCount = Some(n))
          .withColumn("split",
            when($"rn" <= lit(math.floor(n * 0.7).toLong), "train")
              .when($"rn" <= lit(math.floor(n * 0.85).toLong), "val")
              .otherwise("test"))
          .groupBy($"split")
          .agg(count(lit(1)).as("cnt"),
            min($"ts").as("min_ts"), max($"ts").as("max_ts"))
          .orderBy($"split")
      },
      Some("""WITH pos AS (
             |  SELECT ts, event_id,
             |    row_number() OVER (ORDER BY ts, event_id) AS rn,
             |    count(*) OVER () AS n
             |  FROM events
             |), lab AS (
             |  SELECT ts,
             |    CASE WHEN rn <= floor(n * 0.7) THEN 'train'
             |         WHEN rn <= floor(n * 0.85) THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM pos
             |)
             |SELECT split, count(*) AS cnt, min(ts) AS min_ts, max(ts) AS max_ts
             |FROM lab GROUP BY split ORDER BY split""".stripMargin)
    ),

    // O3 scale spelling: the SAME 70/15/15 split labeled by quantile
    // thresholds (ops/Splits.byOrderQuantile) instead of a global
    // row_number window — no single-reducer sort anywhere (pinned in
    // PlanSpec); each row labels itself against two literal thresholds.
    // The order value packs (epoch seconds, event_id) into one exact
    // double (t·2²² + id stays under 2⁵³ while event ids < 4.2M), so
    // it is ties-free and the by-rank thresholds reproduce the
    // positional split row for row — which is exactly what the oracle
    // states: the ORACLE is the positional spelling.
    OracleQuery(
      "o3_time_split_bytime",
      (s, d) => {
        import s.implicits._
        val o = unix_timestamp($"ts") * lit(4194304L) + $"event_id"
        graft.ops.Splits
          .byOrderQuantile(Tables.events(s, d), o)
          .groupBy($"split")
          .agg(count(lit(1)).as("cnt"),
            min($"ts").as("min_ts"), max($"ts").as("max_ts"))
          .orderBy($"split")
      },
      Some("""WITH pos AS (
             |  SELECT ts,
             |    row_number() OVER (ORDER BY
             |      date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) * 4194304 + event_id) AS rn,
             |    count(*) OVER () AS n
             |  FROM events
             |), lab AS (
             |  SELECT ts,
             |    CASE WHEN rn <= floor(n * 0.7) THEN 'train'
             |         WHEN rn <= floor(n * 0.85) THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM pos
             |)
             |SELECT split, count(*) AS cnt, min(ts) AS min_ts, max(ts) AS max_ts
             |FROM lab GROUP BY split ORDER BY split""".stripMargin)
    ),

    // O5: top-k with deterministic tiebreak.
    OracleQuery(
      "o5_topk",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)
    ),

    // V3/V4/V6: the validator library as one aggregation pass — null
    // counts, duplicate-key count, out-of-range count (schemas/validate.py).
    OracleQuery(
      "v_quality_checks",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val dups = li.groupBy($"l_orderkey", $"l_linenumber")
          .agg(count(lit(1)).as("c")).filter($"c" > 1)
          .agg(coalesce(sum($"c" - 1), lit(0)).cast("long").as("dup_rows"))
        val checks = li.agg(
          sum(when($"l_quantity".isNull, 1).otherwise(0)).cast("long").as("null_qty"),
          sum(when($"l_discount" < 0.0 || $"l_discount" > 1.0, 1).otherwise(0)).cast("long").as("oor_discount"),
          sum(when($"l_extendedprice" < 0.0, 1).otherwise(0)).cast("long").as("neg_price"))
        checks.crossJoin(dups)
      },
      Some("""SELECT
             |  (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL) AS null_qty,
             |  (SELECT count(*) FROM lineitem WHERE l_discount < 0.0 OR l_discount > 1.0) AS oor_discount,
             |  (SELECT count(*) FROM lineitem WHERE l_extendedprice < 0.0) AS neg_price,
             |  (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
             |     (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
             |  ) AS dup_rows""".stripMargin)
    ),

    // O6+: deterministic hash sampling — the reproducible subsetting a
    // training-data pipeline needs (df.sample() is seed+partitioning
    // dependent; a content-hash gate is stable across engines, runs, and
    // cluster layouts). Keep ~30% of docs via a 60-bit md5 of doc_id mod
    // 10 < 3; report per-language kept/total. Pure map-side filter — no
    // shuffle before the tiny per-stratum aggregate, pushdown-friendly.
    OracleQuery(
      "o7_hash_sample",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .withColumn("keep",
            (expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)") % 10 < 3)
              .cast("int"))
          .groupBy($"lang")
          .agg(
            count(lit(1)).as("n_total"),
            sum($"keep").cast("long").as("n_kept"),
            round(sum($"keep") / count(lit(1)), 4).as("rate"))
          .orderBy($"lang")
      },
      Some("""SELECT lang, count(*) AS n_total,
             |  CAST(sum(keep) AS BIGINT) AS n_kept,
             |  round(sum(keep) / count(*), 4) AS rate
             |FROM (
             |  SELECT lang,
             |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 < 3
             |         THEN 1 ELSE 0 END AS keep
             |  FROM documents
             |) GROUP BY lang ORDER BY lang""".stripMargin)
    ),

    // O8: stratified sampling — per-stratum FRACTIONS (vs o7's one global
    // rate and MixSampler's count quotas): each stratum keeps rows whose
    // 60-bit doc_id hash, reduced mod 2^20, falls under floor(frac·2^20).
    // Thresholds are driver-side integer literals (the fractions here are
    // exact binary, so floor is exact), membership is a pure map-side
    // predicate — no shuffle, no window, no per-stratum reducer; the
    // sample of a 100 TB stratum costs a scan, and re-running it
    // anywhere reproduces the same rows (content-hash, not RNG).
    OracleQuery(
      "o8_stratified_sample",
      (s, d) => {
        import s.implicits._
        // fractions: src2 1/2, src3 1/4, src4 1/8 — unlisted strata drop
        val thresholds = Map("src2" -> 524288L, "src3" -> 262144L, "src4" -> 131072L)
        val th = thresholds.foldLeft(lit(null).cast("long")) { case (acc, (src, t)) =>
          when($"source" === src, lit(t)).otherwise(acc)
        }
        Tables.documents(s, d)
          .withColumn("hmod",
            expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 1048576"))
          .filter($"hmod" < th)
          .select($"doc_id", $"source", $"hmod")
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, source,
             |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1048576 AS hmod
             |FROM documents
             |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1048576 <
             |  CASE source WHEN 'src2' THEN 524288 WHEN 'src3' THEN 262144
             |              WHEN 'src4' THEN 131072 ELSE NULL END
             |ORDER BY doc_id""".stripMargin)
    ),

    // O9: z-order clustering key (ops/ZOrder) — Morton-interleave the
    // bucketized (time, user) dims so one sort key gives row-group
    // locality in BOTH; this query materializes the exact key the
    // writeZOrderedBy sink sorts by (bounds from one driver scalar
    // fetch, exactly like the sink's own commit-metadata agg, all
    // integer arithmetic, bit-reproducible in the oracle). Ordering by
    // zkey here IS the on-disk layout order, so the oracle checks the
    // curve itself, not just the arithmetic. Routing through
    // ZOrder.zkey (not inline math) keeps the BigInt overflow guard on
    // the bucket span — a near-full-range long dim refuses loudly
    // instead of silently wrapping.
    OracleQuery(
      "o9_zorder_key",
      (s, d) => {
        import s.implicits._
        val base = Tables.events(s, d)
          .select($"event_id", unix_timestamp($"ts").as("t"), $"user_id")
        val Array(b) = base.agg(
          min($"t").cast("long"), max($"t").cast("long"),
          min($"user_id").cast("long"), max($"user_id").cast("long")).collect()
        base.select($"event_id",
            graft.ops.ZOrder.zkey(
              $"t", b.getLong(0), b.getLong(1),
              $"user_id", b.getLong(2), b.getLong(3)).as("zkey"))
          .orderBy($"zkey", $"event_id")
      },
      Some("""WITH base AS (
             |  SELECT event_id, user_id,
             |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS t
             |  FROM events
             |), bounds AS (
             |  SELECT min(t) AS tmin, max(t) AS tmax,
             |    min(user_id) AS umin, max(user_id) AS umax FROM base
             |), bk AS (
             |  SELECT event_id,
             |    CAST(floor((t - tmin) * 65536 / (tmax - tmin + 1)) AS BIGINT) AS bx,
             |    CAST(floor((user_id - umin) * 65536 / (umax - umin + 1)) AS BIGINT) AS by
             |  FROM base CROSS JOIN bounds
             |), s1 AS (
             |  SELECT event_id, ((bx | (bx << 8)) & 16711935) AS x1,
             |    ((by | (by << 8)) & 16711935) AS y1 FROM bk
             |), s2 AS (
             |  SELECT event_id, ((x1 | (x1 << 4)) & 252645135) AS x2,
             |    ((y1 | (y1 << 4)) & 252645135) AS y2 FROM s1
             |), s3 AS (
             |  SELECT event_id, ((x2 | (x2 << 2)) & 858993459) AS x3,
             |    ((y2 | (y2 << 2)) & 858993459) AS y3 FROM s2
             |), s4 AS (
             |  SELECT event_id, ((x3 | (x3 << 1)) & 1431655765) AS x4,
             |    ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM s3
             |)
             |SELECT event_id, (x4 | (y4 << 1)) AS zkey FROM s4
             |ORDER BY zkey, event_id""".stripMargin)
    ),

    // O9b: 3-D z-order key (ops/ZOrder.zkey3) — the (time, entity,
    // domain) fact layout: 21 bits per dim, bits of dim j at positions
    // ≡ j (mod 3). The domain dim is the 60-bit md5 hash of event_type
    // reduced mod 1024 — the pre-scaling contract from ZOrder.bucket
    // (a raw 60-bit hash dim would blow the exact-math budget; the mod
    // moves only bucket resolution). The DuckDB mirror replays the
    // identical 5-step mask ladder per dim; mask constants are
    // interpolated from the same Scala values the Spark expression
    // uses, so the two spellings cannot drift.
    OracleQuery(
      "o9b_zorder3_key",
      (s, d) => {
        import s.implicits._
        val base = Tables.events(s, d)
          .select($"event_id", unix_timestamp($"ts").as("t"), $"user_id",
            (expr(Shingles.h60("event_type")) % 1024).as("dh"))
        val Array(b) = base.agg(
          min($"t").cast("long"), max($"t").cast("long"),
          min($"user_id").cast("long"), max($"user_id").cast("long"),
          min($"dh").cast("long"), max($"dh").cast("long")).collect()
        base.select($"event_id",
            graft.ops.ZOrder.zkey3(
              $"t", b.getLong(0), b.getLong(1),
              $"user_id", b.getLong(2), b.getLong(3),
              $"dh", b.getLong(4), b.getLong(5)).as("zkey3"))
          .orderBy($"zkey3", $"event_id")
      },
      Some {
        val n = 1L << graft.ops.ZOrder.DimBits3
        val ladder = graft.ops.ZOrder.Spread3Masks.zipWithIndex
          .map { case ((sh, mask), i) =>
            val (px, py, pz) =
              if (i == 0) ("bx", "by", "bz")
              else (s"x$i", s"y$i", s"z$i")
            val j = i + 1
            val lo = mask >> sh // mask-before-shift: no checked-<<-overflow
            s"""s$j AS (
               |  SELECT event_id,
               |    ((($px & $mask) | (($px & $lo) << $sh))) AS x$j,
               |    ((($py & $mask) | (($py & $lo) << $sh))) AS y$j,
               |    ((($pz & $mask) | (($pz & $lo) << $sh))) AS z$j
               |  FROM ${if (i == 0) "bk" else s"s$i"}
               |)""".stripMargin
          }.mkString(", ")
        s"""WITH base AS (
           |  SELECT event_id, user_id,
           |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS t,
           |    ('0x' || substr(md5(event_type), 1, 15))::BIGINT % 1024 AS dh
           |  FROM events
           |), bounds AS (
           |  SELECT min(t) AS tmin, max(t) AS tmax,
           |    min(user_id) AS umin, max(user_id) AS umax,
           |    min(dh) AS dmin, max(dh) AS dmax FROM base
           |), bk AS (
           |  SELECT event_id,
           |    CAST(floor((t - tmin) * $n / (tmax - tmin + 1)) AS BIGINT) AS bx,
           |    CAST(floor((user_id - umin) * $n / (umax - umin + 1)) AS BIGINT) AS by,
           |    CAST(floor((dh - dmin) * $n / (dmax - dmin + 1)) AS BIGINT) AS bz
           |  FROM base CROSS JOIN bounds
           |), $ladder
           |SELECT event_id, (x5 | (y5 << 1) | (z5 << 2)) AS zkey3 FROM s5
           |ORDER BY zkey3, event_id""".stripMargin
      }
    ),

    // O27: Hilbert curve key (ops/HilbertOrder) — the locality-
    // preserving alternative to o9's Morton key: the z-curve jumps
    // across quadrant seams (consecutive keys in opposite corners), the
    // Hilbert walk moves one 4-neighbor step per key, so equal key
    // ranges cover tighter rectangles and fewer row groups intersect a
    // 2-dim predicate (the scan_*_hilbert BENCH cells measure it). The
    // key is the standard 16-step xy2d rotate/reflect recurrence in
    // exact integer arithmetic; the oracle replays the identical steps
    // as a generated chain of MATERIALIZED CTEs (the quadrant XOR is a
    // CASE on both sides, so no engine bit-op beyond & and − is
    // needed). Same bucketization contract as o9 (ZOrder.bucket exact
    // floor math, driver-known bounds).
    OracleQuery(
      "o27_hilbert_key",
      (s, d) => {
        import s.implicits._
        val base = Tables.events(s, d)
          .select($"event_id", unix_timestamp($"ts").as("t"), $"user_id")
        val Array(b) = base.agg(
          min($"t").cast("long"), max($"t").cast("long"),
          min($"user_id").cast("long"), max($"user_id").cast("long")).collect()
        // the native codegen kernel (functions/HilbertIndex2) — one
        // generated-Java loop; the 16-projection Column spelling stays
        // as the spec's cross-check (HilbertOrderSpec pins ≡)
        graft.ops.HilbertOrder.withHilbertKeyNative(
            base,
            graft.ops.ZOrder.bucket($"t", b.getLong(0), b.getLong(1)),
            graft.ops.ZOrder.bucket($"user_id", b.getLong(2), b.getLong(3)),
            "hkey")
          .select($"event_id", $"hkey")
          .orderBy($"hkey", $"event_id")
      },
      Some {
        val steps = graft.ops.HilbertOrder.oracleSteps("event_id", "bk")
        val last = s"h${graft.ops.HilbertOrder.DimBits - 1}"
        s"""WITH base AS (
           |  SELECT event_id, user_id,
           |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS t
           |  FROM events
           |), bounds AS (
           |  SELECT min(t) AS tmin, max(t) AS tmax,
           |    min(user_id) AS umin, max(user_id) AS umax FROM base
           |), bk AS (
           |  SELECT event_id,
           |    CAST(floor((t - tmin) * 65536 / (tmax - tmin + 1)) AS BIGINT) AS x,
           |    CAST(floor((user_id - umin) * 65536 / (umax - umin + 1)) AS BIGINT) AS y,
           |    CAST(0 AS BIGINT) AS d
           |  FROM base CROSS JOIN bounds
           |), $steps
           |SELECT event_id, d AS hkey FROM $last
           |ORDER BY hkey, event_id""".stripMargin
      }
    ),

    // O28: persisted mergeable-sketch table — the distinct-count case
    // o19's incremental-agg pattern CANNOT cover: sums/counts fold
    // additively across days, but "distinct users over any date range"
    // is not a sum of daily distincts. The 100 TB answer is a SKETCH
    // TABLE: one HLL sketch per day (datasketches via hll_sketch_agg,
    // bytes per row), persisted like any dimension; any range query is
    // then hll_union_agg over the stored sketches — a scan of
    // |days| sketch rows, NEVER a re-scan of the events. Maintenance is
    // append-only (new day = one new sketch row), exactly the Manifest/
    // IvfIndex delta discipline. Sketch estimates are engine-specific,
    // so the gate is the CONTRACT pattern: both engines compute the
    // exact per-week/total distincts; Spark additionally checks its
    // union-of-stored-sketches estimates land within the HLL error
    // bound (lgK=12 → σ ≈ 1.04/√4096 ≈ 1.6%; gate at 5%) and emits the
    // boolean — the oracle asserts TRUE. A sketch-union regression
    // (wrong merge, truncated binary round-trip through parquet) blows
    // the bound and fails the hash.
    OracleQuery(
      "o28_hll_sketch_table",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"user_id", date_trunc("week", $"ts").as("wk"),
            to_date($"ts").as("day"))
        // build + persist the per-day sketch table (binary column
        // round-trips through parquet — part of what the gate proves)
        val dir = graft.core.Scratch.dir("hll_sketches", d)
        ev.groupBy($"wk", $"day")
          .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
          .write.mode("overwrite").parquet(dir)
        val sk = s.read.parquet(dir)
        val weekly = sk.groupBy($"wk")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
        val total = sk.agg(
          expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
          .select(lit(null).cast("timestamp").as("wk"), $"est")
        val exactW = ev.groupBy($"wk").agg(countDistinct($"user_id").as("n_exact"))
        val exactT = ev.agg(countDistinct($"user_id").as("n_exact"))
          .select(lit(null).cast("timestamp").as("wk"), $"n_exact")
        // join on the grain LABEL — the total row's wk is null and a
        // null key never equi-joins
        def grained(df: org.apache.spark.sql.DataFrame) = df.select(
          (coalesce(date_format($"wk", "yyyy-MM-dd"), lit("total")).as("grain") +:
            df.columns.filter(_ != "wk").map(col)): _*)
        grained(exactW.unionByName(exactT))
          .join(grained(weekly.unionByName(total)), Seq("grain"))
          .select($"grain", $"n_exact",
            (abs($"est" - $"n_exact") <= $"n_exact" * 0.05).as("within_bound"))
          .orderBy($"grain")
      },
      Some("""WITH wku AS (
             |  SELECT DISTINCT date_trunc('week', ts) AS wk, user_id FROM events
             |), wks AS (
             |  SELECT strftime(wk, '%Y-%m-%d') AS grain,
             |    CAST(count(*) AS BIGINT) AS n_exact
             |  FROM wku GROUP BY 1
             |), tot AS (
             |  SELECT 'total' AS grain,
             |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
             |  FROM events
             |)
             |SELECT grain, n_exact, TRUE AS within_bound
             |FROM (SELECT * FROM wks UNION ALL SELECT * FROM tot)
             |ORDER BY grain""".stripMargin)
    ),

    // O29: persisted QUANTILE sketch table — o28's pattern for
    // percentiles. approx_percentile answers one in-flight query but its
    // sketch neither persists nor merges; Spark's KLL built-ins do:
    // kll_sketch_agg_double folds one sketch per day, persisted as a
    // parquet binary column, and any date-range percentile is
    // kll_merge_agg_double over the stored rows +
    // kll_sketch_get_quantile_double — |days| rows scanned, never an
    // event re-scan. KLL's guarantee is a NORMALIZED RANK error (k=200 →
    // ε ≈ 1.65%), so the contract gate brackets each sketch quantile
    // between the EXACT percentiles at q ∓ 3% (KLL compaction is
    // internally randomized, so the margin over ε keeps re-runs
    // deterministic w.h.p.): both engines emit the exact p50/p95
    // (floor-rounded), Spark additionally checks its merged-sketch
    // values sit inside the rank bracket and the oracle asserts the
    // booleans — a wrong merge, rank-criteria drift, or a truncated
    // binary round-trip lands outside the bracket and fails the hash.
    // (events.value is never null; an all-null day would store an EMPTY
    // sketch, which merges fine but has no quantile to read.)
    OracleQuery(
      "o29_kll_sketch_table",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"value", date_trunc("week", $"ts").as("wk"),
            to_date($"ts").as("day"))
        val dir = graft.core.Scratch.dir("kll_sketches", d)
        ev.groupBy($"wk", $"day")
          .agg(expr("kll_sketch_agg_double(value, 200)").as("sk"))
          .write.mode("overwrite").parquet(dir)
        val sk = s.read.parquet(dir)
        def grain(df: org.apache.spark.sql.DataFrame) = df.select(
          (coalesce(date_format($"wk", "yyyy-MM-dd"), lit("total")).as("grain") +:
            df.columns.filter(_ != "wk").map(col)): _*)
        val unions = grain(
          sk.groupBy($"wk").agg(expr("kll_merge_agg_double(sk)").as("u"))
            .unionByName(sk.agg(expr("kll_merge_agg_double(sk)").as("u"))
              .select(lit(null).cast("timestamp").as("wk"), $"u")))
          .select($"grain",
            expr("kll_sketch_get_quantile_double(u, 0.5d)").as("sk50"),
            expr("kll_sketch_get_quantile_double(u, 0.95d)").as("sk95"))
        // exact percentiles at the gate points AND the rank brackets
        val qs = "array(0.47d, 0.5d, 0.53d, 0.92d, 0.95d, 0.98d)"
        val exact = grain(
          ev.groupBy($"wk").agg(expr(s"percentile(value, $qs)").as("pq"))
            .unionByName(ev.agg(expr(s"percentile(value, $qs)").as("pq"))
              .select(lit(null).cast("timestamp").as("wk"), $"pq")))
        exact.join(unions, Seq("grain"))
          .select($"grain",
            graft.core.Parity.floorRound4($"pq"(1)).as("p50_exact"),
            graft.core.Parity.floorRound4($"pq"(4)).as("p95_exact"),
            ($"sk50" >= $"pq"(0) && $"sk50" <= $"pq"(2)).as("p50_ok"),
            ($"sk95" >= $"pq"(3) && $"sk95" <= $"pq"(5)).as("p95_ok"))
          .orderBy($"grain")
      },
      Some("""WITH wks AS (
             |  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS grain,
             |    floor(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS p50_exact,
             |    floor(quantile_cont(value, 0.95) * 10000 + 0.5) / 10000 AS p95_exact
             |  FROM events GROUP BY 1
             |), tot AS (
             |  SELECT 'total' AS grain,
             |    floor(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS p50_exact,
             |    floor(quantile_cont(value, 0.95) * 10000 + 0.5) / 10000 AS p95_exact
             |  FROM events
             |)
             |SELECT grain, p50_exact, p95_exact,
             |  TRUE AS p50_ok, TRUE AS p95_ok
             |FROM (SELECT * FROM wks UNION ALL SELECT * FROM tot)
             |ORDER BY grain""".stripMargin)
    ),

    // O30: SET-OPERATION sketches — the stored-sketch family member
    // HLL fundamentally cannot provide: a theta sketch is a uniform
    // sample of the hashed key space, so stored per-segment sketches
    // answer INTERSECTION and DIFFERENCE cardinalities — "users who
    // did X AND Y" (audience overlap, cohort algebra, benchmark-
    // contamination user sets) — from |segments| sketch rows, never an
    // event re-scan. Spark's theta built-ins (theta_sketch_agg,
    // theta_intersection, theta_difference, theta_sketch_estimate).
    // Below 2^lgK=4096 uniques a theta sketch is EXACT; past it,
    // intersections carry the widest error — the gate brackets at
    // max(2, 5%) so the row stays deterministic at every sf the driver
    // runs. Exact sides are one distinct-collapse + one self-join on
    // user — both engines.
    OracleQuery(
      "o30_theta_audience_overlap",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"event_type".as("t"), $"user_id".as("u")).distinct()
        val dir = graft.core.Scratch.dir("theta_sketches", d)
        Tables.events(s, d).groupBy($"event_type".as("t"))
          .agg(expr("theta_sketch_agg(user_id, 12)").as("sk"))
          .write.mode("overwrite").parquet(dir)
        val sk = s.read.parquet(dir)
        val est = sk.as("a").crossJoin(sk.as("b")) // 5×5 sketch rows
          .filter(col("a.t") < col("b.t"))
          .select(col("a.t").as("t1"), col("b.t").as("t2"),
            expr("theta_sketch_estimate(theta_intersection(a.sk, b.sk))").as("e_both"),
            expr("theta_sketch_estimate(theta_difference(a.sk, b.sk))").as("e_only_a"))
        val sizes = ev.groupBy($"t").agg(count(lit(1)).as("n"))
        val both = ev.as("a").join(ev.as("b"),
            col("a.u") === col("b.u") && col("a.t") < col("b.t"))
          .groupBy(col("a.t").as("t1"), col("b.t").as("t2"))
          .agg(count(lit(1)).as("n_both"))
        both
          .join(sizes.select($"t".as("t1"), $"n".as("n_a")), "t1")
          .join(sizes.select($"t".as("t2"), $"n".as("n_b")), "t2")
          .join(est, Seq("t1", "t2"))
          .select($"t1", $"t2", $"n_a", $"n_b", $"n_both",
            (abs($"e_both" - $"n_both") <=
              greatest(lit(2.0), $"n_both" * 0.05)).as("inter_ok"),
            (abs($"e_only_a" - ($"n_a" - $"n_both")) <=
              greatest(lit(2.0), ($"n_a" - $"n_both") * 0.05)).as("diff_ok"))
          .orderBy($"t1", $"t2")
      },
      Some("""WITH ev AS (
             |  SELECT DISTINCT event_type AS t, user_id AS u FROM events
             |), sizes AS (
             |  SELECT t, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1
             |), pair AS (
             |  SELECT a.t AS t1, b.t AS t2, CAST(count(*) AS BIGINT) AS n_both
             |  FROM ev a JOIN ev b ON a.u = b.u AND a.t < b.t
             |  GROUP BY 1, 2
             |)
             |SELECT t1, t2, sa.n AS n_a, sb.n AS n_b, n_both,
             |  TRUE AS inter_ok, TRUE AS diff_ok
             |FROM pair
             |JOIN sizes sa ON sa.t = t1
             |JOIN sizes sb ON sb.t = t2
             |ORDER BY t1, t2""".stripMargin)
    ),

    // O26: join-key skew audit — the PLANNING INPUT for the j11/j12/
    // skew-strategy family: before shipping a recurring fact⋈dim join
    // to a cluster you measure the key distribution ONCE and pick the
    // strategy from numbers, not folklore. One per-key count aggregate
    // + one tiny reduction per key family; top-10 mass via an ordered
    // limit (bounded). The recommendation is decided by EXACT INTEGER
    // cross-multiplications (top1·10 ≥ rows ⟺ hot-key share ≥ 10% →
    // hot/cold split; top1·keys ≥ 8·rows ⟺ top key ≥ 8× the mean →
    // salt; else plain+AQE), so the label can never flip on a float
    // ulp. Shares are display-rounded by the floor spelling.
    OracleQuery(
      "o26_skew_audit",
      (s, d) => {
        import s.implicits._
        def audit(df: org.apache.spark.sql.DataFrame, fam: String, key: String) = {
          // keys audit as STRINGS on both engines: the top-10 tiebreak
          // (c DESC, k) must order identically, and a numeric-vs-lexico
          // split at a tied rank-10 boundary would flip top10_cnt
          val cnts = df.groupBy(col(key).cast("string").as("k"))
            .agg(count(lit(1)).as("c"))
          val top10 = cnts.orderBy($"c".desc, $"k").limit(10)
            .agg(sum($"c").as("top10"))
          cnts.agg(
              sum($"c").as("n_rows"), count(lit(1)).as("n_keys"),
              max($"c").as("top1"))
            .crossJoin(broadcast(top10))
            .select(
              lit(fam).as("family"),
              $"n_rows".cast("long").as("n_rows"),
              $"n_keys".cast("long").as("n_keys"),
              $"top1".cast("long").as("top1_cnt"),
              $"top10".cast("long").as("top10_cnt"),
              graft.core.Parity.floorRound4(
                $"top1".cast("double") / $"n_rows").as("top1_share"),
              graft.core.Parity.floorRound4(
                $"top10".cast("double") / $"n_rows").as("top10_share"),
              when($"top1" * 10 >= $"n_rows", "hot-cold-split")
                .when($"top1" * $"n_keys" >= lit(8) * $"n_rows", "salt")
                .otherwise("plain-aqe").as("strategy"))
        }
        audit(Tables.events(s, d), "events.user_id", "user_id")
          .unionByName(audit(Tables.lineitem(s, d), "lineitem.l_orderkey", "l_orderkey"))
          .unionByName(audit(Tables.orders(s, d), "orders.o_orderdate", "o_orderdate"))
          .orderBy($"family")
      },
      Some("""WITH fams AS (
             |  SELECT 'events.user_id' AS family, CAST(user_id AS VARCHAR) AS k FROM events
             |  UNION ALL
             |  SELECT 'lineitem.l_orderkey', CAST(l_orderkey AS VARCHAR) FROM lineitem
             |  UNION ALL
             |  SELECT 'orders.o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders
             |), cnts AS (
             |  SELECT family, k, count(*) AS c FROM fams GROUP BY 1, 2
             |), top10 AS (
             |  SELECT family, sum(c) AS top10 FROM (
             |    SELECT family, c,
             |      row_number() OVER (PARTITION BY family ORDER BY c DESC, k) AS rn
             |    FROM cnts) t
             |  WHERE rn <= 10 GROUP BY family
             |), agg AS (
             |  SELECT family, sum(c) AS n_rows, count(*) AS n_keys, max(c) AS top1
             |  FROM cnts GROUP BY family
             |)
             |SELECT a.family,
             |  CAST(n_rows AS BIGINT) AS n_rows, CAST(n_keys AS BIGINT) AS n_keys,
             |  CAST(top1 AS BIGINT) AS top1_cnt, CAST(top10 AS BIGINT) AS top10_cnt,
             |  floor(CAST(top1 AS DOUBLE) / n_rows * 10000 + 0.5) / 10000 AS top1_share,
             |  floor(CAST(top10 AS DOUBLE) / n_rows * 10000 + 0.5) / 10000 AS top10_share,
             |  CASE WHEN top1 * 10 >= n_rows THEN 'hot-cold-split'
             |       WHEN top1 * n_keys >= 8 * n_rows THEN 'salt'
             |       ELSE 'plain-aqe' END AS strategy
             |FROM agg a JOIN top10 USING (family)
             |ORDER BY family""".stripMargin)
    ),

    // O10: dense global row ids — the DataFrame-world zipWithIndex.
    // A new corpus batch needs contiguous stable ids in a deterministic
    // order, and row_number() over a GLOBAL window is one reducer
    // sorting the world. Routes through ops/PrefixSum with a constant
    // group and unit weights: range-bucketed two-pass offsets, the only
    // window partitioned by (group, bucket) — 64-way parallel — while
    // the assigned ids equal the global row_number exactly (which is
    // precisely what the oracle states).
    OracleQuery(
      "o10_global_index",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .withColumn("g", lit(0)).withColumn("one", lit(1L))
        graft.ops.PrefixSum
          .withCumsum(docs, "g", "doc_id", "one", outCol = "global_id", buckets = 64)
          .select($"doc_id", $"source", $"global_id")
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, source,
             |  CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS global_id
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // O11: CDC keep-latest upsert merge — fold a change feed into a keyed
    // snapshot. Base = events before Jan 20, updates = events from Jan 20
    // on; identity is (user_id, event_type), recency (ts, event_id) with
    // the update side winning full ties. Routed through ops/Upsert: ONE
    // max_by aggregation whose map-side partial keeps the shuffle at
    // O(distinct keys) — the oracle spells the same semantics with a
    // row_number window, which is correct but the 100 TB-wrong plan
    // (every change-log row shuffles).
    OracleQuery(
      "o11_upsert_merge",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
        val cut = "2024-01-20"
        val base = ev.filter($"ts" < lit(cut).cast("timestamp"))
        val updates = ev.filter($"ts" >= lit(cut).cast("timestamp"))
        graft.ops.Upsert
          .mergeLatest(base, updates,
            keys = Seq("user_id", "event_type"),
            orderBy = Seq("ts", "event_id"))
          .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
          .orderBy($"user_id", $"event_type")
      },
      Some("""WITH tagged AS (
             |  SELECT user_id, event_type, event_id, ts, value,
             |    CASE WHEN ts >= TIMESTAMP '2024-01-20' THEN 1 ELSE 0 END AS side
             |  FROM events
             |), ranked AS (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY user_id, event_type
             |    ORDER BY ts DESC, event_id DESC, side DESC) AS rn
             |  FROM tagged
             |)
             |SELECT user_id, event_type, event_id, ts, value
             |FROM ranked WHERE rn = 1
             |ORDER BY user_id, event_type""".stripMargin)
    ),

    // O12: pivot — long→wide reshape (per-user metric matrix from the
    // event log). The pivot values are EXPLICIT, which is the 100 TB
    // contract: with a value list Spark skips the extra distinct-scan
    // job it otherwise runs to discover columns, and the pivot compiles
    // to ONE hash aggregate with a conditional-agg column per value —
    // same plan class as a9's GROUPING SETS, no extra shuffle.
    OracleQuery(
      "o12_pivot",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy($"user_id")
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(round(sum($"value"), 4))
          .orderBy($"user_id")
      },
      Some("""SELECT user_id,
             |  round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
             |  round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error,
             |  round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
             |  round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
             |  round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),

    // O13: unpivot — wide→long reshape via stack() (a generator
    // expression: pure map-side row explosion, no shuffle until the
    // summary aggregate), the inverse contract of o12.
    OracleQuery(
      "o13_unpivot",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .selectExpr("stack(3, 'discount', l_discount, 'price', l_extendedprice, 'quantity', l_quantity) AS (metric, val)")
          .groupBy($"metric")
          .agg(count(lit(1)).as("n"), round(sum($"val"), 4).as("total"))
          .orderBy($"metric")
      },
      Some("""WITH long AS (
             |  SELECT 'discount' AS metric, l_discount AS val FROM lineitem
             |  UNION ALL SELECT 'price', l_extendedprice FROM lineitem
             |  UNION ALL SELECT 'quantity', l_quantity FROM lineitem
             |)
             |SELECT metric, count(*) AS n, round(sum(val), 4) AS total
             |FROM long GROUP BY metric ORDER BY metric""".stripMargin)
    ),

    // O14: weighted sampling without replacement (Efraimidis–Spirakis):
    // each row draws key = ln(u)/w and the k LARGEST keys are the
    // sample — one pass, exactly k rows, inclusion probability ∝ weight.
    // u is a content-hash uniform (md5 of the row key, the o7/o8
    // spelling), NOT an RNG: the sample is reproducible anywhere, and
    // the oracle can replay it bit-for-bit. The key is rounded to 10
    // decimals with an o_orderkey tiebreak so a cross-libm ulp in ln()
    // can never flip the selection boundary.
    // Scale: orderBy+limit collapses to TakeOrderedAndProject — each
    // partition keeps its local top-k and only k·partitions candidate
    // rows reach the driver-side merge; no global sort, no full
    // shuffle. This is THE way to draw a weighted sample from a 100 TB
    // fact: a scan plus a bounded merge.
    OracleQuery(
      "o14_weighted_sample",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .withColumn("hmod",
            expr("CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 15), 16, 10) AS BIGINT) % 1048576"))
          .withColumn("skey",
            round(log(($"hmod" + 1) / lit(1048577.0)) / $"o_totalprice", 10))
          .select($"o_orderkey", $"o_totalprice", $"skey")
          .orderBy($"skey".desc, $"o_orderkey")
          .limit(100)
      },
      Some("""SELECT o_orderkey, o_totalprice,
             |  round(ln((('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 1048576 + 1)
             |    / 1048577.0) / o_totalprice, 10) AS skey
             |FROM orders
             |ORDER BY skey DESC, o_orderkey LIMIT 100""".stripMargin)
    ),

    // O16: snapshot diff (CDC extraction) via ops/SnapshotDiff — what
    // changed between two dumps of a keyed table. The "new" snapshot is
    // derived from orders deterministically (drop every 17th key, bump
    // totalprice on every 5th surviving key, re-key every 23rd as an
    // insert) so the oracle can rebuild the identical pair. The operator
    // itself: map-side xxhash64 payload digests, ONE co-partitioned
    // full-outer join, unchanged rows dropped pre-materialization — at
    // 100 TB the exchange carries (key, 8-byte hash), not row width. The
    // oracle spells equality by value (DuckDB has no xxhash64), which is
    // exactly the operator's audit-mode contract.
    OracleQuery(
      "o16_snapshot_diff",
      (s, d) => {
        import s.implicits._
        val old = Tables.orders(s, d)
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        val survived = old.filter($"o_orderkey" % 17 =!= 0)
          .withColumn("o_totalprice",
            when($"o_orderkey" % 5 === 0, round($"o_totalprice" * 1.05, 2))
              .otherwise($"o_totalprice"))
        val inserts = old.filter($"o_orderkey" % 23 === 0)
          .withColumn("o_orderkey", $"o_orderkey" + 1000000000L)
        val feed = graft.ops.SnapshotDiff.changes(
          old, survived.unionByName(inserts),
          keys = Seq("o_orderkey"), compareCols = Seq("o_orderstatus", "o_totalprice"))
        feed.groupBy($"change_type")
          .agg(count(lit(1)).as("n"),
            min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"))
          .orderBy($"change_type")
      },
      Some("""WITH old AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |), survived AS (
             |  SELECT o_orderkey, o_orderstatus,
             |    CASE WHEN o_orderkey % 5 = 0 THEN round(o_totalprice * 1.05, 2)
             |         ELSE o_totalprice END AS o_totalprice
             |  FROM old WHERE o_orderkey % 17 <> 0
             |), new_snap AS (
             |  SELECT * FROM survived
             |  UNION ALL
             |  SELECT o_orderkey + 1000000000, o_orderstatus, o_totalprice
             |  FROM old WHERE o_orderkey % 23 = 0
             |), feed AS (
             |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             |    CASE WHEN o.o_orderkey IS NULL THEN 'insert'
             |         WHEN n.o_orderkey IS NULL THEN 'delete'
             |         WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
             |           OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'update'
             |    END AS change_type
             |  FROM old o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
             |)
             |SELECT change_type, count(*) AS n,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM feed WHERE change_type IS NOT NULL
             |GROUP BY change_type ORDER BY change_type""".stripMargin)
    ),

    // O18: SCD Type-2 interval reconstruction — turn a keyed change log
    // into a versioned dimension with validity intervals
    // [valid_from, valid_to), current row open-ended (NULL valid_to).
    // The change log here is each user's event stream treated as
    // attribute changes (event_type = the tracked attribute), with
    // consecutive DUPLICATE values collapsed first — real change
    // capture emits heartbeats, and a version that "changes" to itself
    // is no version. Plan: everything is per-key windows over ONE
    // (user_id)-keyed exchange+sort — dedup-consecutive (lag), then
    // valid_to (lead) and version number (row_number) reuse the same
    // partitioning; no self-joins, no global window. The output keeps
    // one summary row per (user, version-parity) to stay bounded.
    OracleQuery(
      "o18_scd2_intervals",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val changes = Tables.events(s, d)
          .filter($"user_id" < 50)
          .select($"user_id", $"ts", $"event_id", $"event_type")
          .withColumn("prev_type", lag($"event_type", 1).over(w))
          .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
        val w2 = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val versioned = changes
          .withColumn("valid_from", $"ts")
          .withColumn("valid_to", lead($"ts", 1).over(w2))
          .withColumn("version", row_number().over(w2))
        versioned.groupBy($"user_id").agg(
            count(lit(1)).as("n_versions"),
            sum(when($"valid_to".isNull, 1L).otherwise(0L)).as("n_open"),
            max($"version").as("last_version"),
            // total closed-interval dwell seconds: exact integer µs
            expr("sum(CASE WHEN valid_to IS NOT NULL THEN unix_micros(valid_to) - unix_micros(valid_from) END) DIV 1000000")
              .as("closed_dwell_sec"))
          .orderBy($"user_id")
      },
      Some("""WITH ordered AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
             |  FROM events WHERE user_id < 50
             |), changes AS (
             |  SELECT user_id, ts, event_id, event_type FROM ordered
             |  WHERE prev_type IS NULL OR prev_type <> event_type
             |), versioned AS (
             |  SELECT user_id, ts AS valid_from,
             |    lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
             |  FROM changes
             |)
             |SELECT user_id, count(*) AS n_versions,
             |  CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
             |  CAST(max(version) AS BIGINT) AS last_version,
             |  CAST(sum(CASE WHEN valid_to IS NOT NULL
             |        THEN epoch_us(valid_to) - epoch_us(valid_from) END) // 1000000 AS BIGINT)
             |    AS closed_dwell_sec
             |FROM versioned GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),

    // V: referential-integrity audit — orphan counts across the star
    // schema's FK edges (lineitem→orders, lineitem→part, orders→
    // customer) in one report. Each edge is a LEFT ANTI join: the fact
    // side streams through a hash probe of the key side and only
    // orphans survive to the count — no row wider than a key ever
    // shuffles, and the three audits share nothing so they parallelize
    // as independent stages. The dim key-sets are dropped to key-only
    // projections BEFORE the join (ReadSchema prunes to one column).
    OracleQuery(
      "v3_fk_orphans",
      (s, d) => {
        import s.implicits._
        def orphans(fact: org.apache.spark.sql.DataFrame, fk: String,
            dim: org.apache.spark.sql.DataFrame, pk: String, edge: String) =
          fact.select(col(fk)).join(dim.select(col(pk)), col(fk) === col(pk), "left_anti")
            .agg(lit(edge).as("edge"), count(lit(1)).as("n_orphans"))
        orphans(Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d), "o_orderkey", "lineitem_orders")
          .unionByName(orphans(Tables.lineitem(s, d), "l_partkey", Tables.part(s, d), "p_partkey", "lineitem_part"))
          .unionByName(orphans(Tables.orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey", "orders_customer"))
          .orderBy($"edge")
      },
      Some("""SELECT 'lineitem_orders' AS edge, count(*) AS n_orphans
             |FROM lineitem l
             |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
             |UNION ALL
             |SELECT 'lineitem_part', count(*)
             |FROM lineitem l
             |WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
             |UNION ALL
             |SELECT 'orders_customer', count(*)
             |FROM orders o
             |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
             |ORDER BY edge""".stripMargin)
    ),

    // O19: incremental aggregate maintenance with retractions — keep a
    // per-(event_type, day) stats table current against a CDC feed
    // WITHOUT recomputing it from the fact (library operator:
    // ops/IncrementalAgg; this entry is its oracle-checked instance). The change feed is derived
    // deterministically (inserts = events after the cutoff; deletes =
    // every 997th base row) so the oracle can rebuild the identical
    // updated table and aggregate it from scratch — the equivalence
    // the maintenance plan must reproduce.
    //
    // The 100 TB design splits state by mergeability:
    //  - count/sum are ABELIAN-GROUP state: deletes retract as weight
    //    −1, and the stored aggregate merges with the (tiny) signed
    //    delta aggregate in one full-outer join keyed by group — the
    //    fact table is NEVER rescanned for them;
    //  - min/max are only SEMIGROUP state (a delete can remove the
    //    current extremum), so they are recomputed — but ONLY for the
    //    groups the delta touched, via a semi join that at scale is
    //    partition pruning on day. Untouched groups keep their stored
    //    row byte-for-byte.
    // Groups whose rows are all deleted drop out (n=0); brand-new
    // groups enter through the merge's full-outer side.
    OracleQuery(
      "o19_incremental_agg",
      (s, d) => {
        import s.implicits._
        val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
        def keyed(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("day", date_trunc("day", $"ts"))
        val ev = keyed(Tables.events(s, d))
        val base = ev.filter($"ts" < cutoff)
        val inserts = ev.filter($"ts" >= cutoff)
        val deletes = base.filter($"event_id" % 997 === 0)
        val spec = graft.ops.IncrementalAgg.Spec(
          keys = Seq("event_type", "day"), sumCols = Seq("value"), minMaxCols = Seq("value"))
        // the stored aggregate (stand-in for the materialized table)
        val stored = graft.ops.IncrementalAgg.storedAggregate(base, spec)
        val changes = inserts.withColumn("w", lit(1L))
          .unionByName(deletes.withColumn("w", lit(-1L)))
        // post-change logical table as ONE pruned scan, not a union
        val updated = ev.filter(!($"ts" < cutoff && $"event_id" % 997 === 0))
        graft.ops.IncrementalAgg.maintain(stored, changes, updated, spec)
          .select($"event_type", $"day", $"n",
            round($"sum_value", 4).as("sum_value"),
            round($"min_value", 4).as("min_value"),
            round($"max_value", 4).as("max_value"))
          .orderBy($"event_type", $"day")
      },
      Some("""WITH base AS (
             |  SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-25 00:00:00'
             |), ins AS (
             |  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
             |), updated AS (
             |  SELECT * FROM base WHERE event_id % 997 <> 0
             |  UNION ALL SELECT * FROM ins
             |)
             |SELECT event_type, date_trunc('day', ts) AS day,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(sum(value), 4) AS sum_value,
             |  round(min(value), 4) AS min_value,
             |  round(max(value), 4) AS max_value
             |FROM updated
             |GROUP BY event_type, day
             |ORDER BY event_type, day""".stripMargin)
    ),

    // O20: EXACT order statistics without a global sort — the third
    // point of the quantile trade-off next to a15 (approx sketch) and
    // a8 (exact-but-sorting). ops/Selection descends a fixed-width
    // histogram: each pass shuffles a 1024-row histogram, never data
    // rows, and the surviving range's filter prunes row groups on a
    // range-sorted layout. k = ceil(q*n), 1-based — the same discrete
    // quantile the oracle reads off a row_number() axis.
    OracleQuery(
      "o20_exact_quantiles",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val n = li.filter($"l_extendedprice".isNotNull).count()
        val Seq(p50, p90, p99) =
          graft.ops.Selection.quantilesDisc(li, "l_extendedprice", Seq(0.5, 0.9, 0.99))
        Seq((n, bd4(p50), bd4(p90), bd4(p99))).toDF("n", "p50", "p90", "p99")
          .select($"n", $"p50".cast("double"), $"p90".cast("double"), $"p99".cast("double"))
      },
      Some("""WITH s AS (
             |  SELECT l_extendedprice AS v,
             |    row_number() OVER (ORDER BY l_extendedprice) AS r
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL
             |), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s)
             |-- q * n is computed in DOUBLE on both sides: a DECIMAL 0.90
             |-- would be exact where IEEE 0.90 is not, and a near-integer
             |-- product could ceil() to a different k than the engine's
             |SELECT (SELECT n FROM n) AS n,
             |  round(max(CASE WHEN r = CAST(ceil(CAST(0.50 AS DOUBLE) * (SELECT n FROM n)) AS BIGINT) THEN v END), 4) AS p50,
             |  round(max(CASE WHEN r = CAST(ceil(CAST(0.90 AS DOUBLE) * (SELECT n FROM n)) AS BIGINT) THEN v END), 4) AS p90,
             |  round(max(CASE WHEN r = CAST(ceil(CAST(0.99 AS DOUBLE) * (SELECT n FROM n)) AS BIGINT) THEN v END), 4) AS p99
             |FROM s""".stripMargin)
    ),

    // O21: deterministic corpus shuffle + split assignment — the last
    // mile of dataset assembly before training. Assignment is a pure
    // content-hash function of doc_id (NOT df.sample/rand: stable
    // across engines, reruns, and cluster layouts — the property that
    // makes a 100 TB split reproducible and incrementally extensible:
    // a new batch's docs land in the same splits without touching old
    // ones). The same hash mod 2^20 doubles as the within-split
    // shuffle ORDER — a seeded global permutation that needs only a
    // range exchange on an integer key, no RNG state. Reported here as
    // per-split composition plus an order fingerprint (sum of
    // rank-weighted ids over the first 1000 shuffled train docs) so
    // the oracle pins the ORDER, not just the membership.
    OracleQuery(
      "o21_hash_split_shuffle",
      (s, d) => {
        import s.implicits._
        val h = expr(Shingles.h60("CAST(doc_id AS STRING)"))
        val docs = Tables.documents(s, d)
          .withColumn("bucket", pmod(h, lit(100)))
          .withColumn("split",
            when($"bucket" < 80, "train").when($"bucket" < 90, "val").otherwise("test"))
          .withColumn("ord", pmod(h, lit(1048576L)))
        val comp = docs.groupBy($"split")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
        val fp = docs.filter($"split" === "train")
          .orderBy($"ord", $"doc_id").limit(1000)
          .withColumn("r", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy($"ord", $"doc_id")))
          .agg(sum($"r" * $"doc_id").as("order_fp"))
        comp.crossJoin(fp).orderBy($"split")
      },
      Some("""WITH h AS (
             |  SELECT doc_id, n_chars,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1048576 AS ord
             |  FROM documents
             |), tagged AS (
             |  SELECT *, CASE WHEN bucket < 80 THEN 'train'
             |                 WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
             |  FROM h
             |), fp AS (
             |  SELECT CAST(sum(r * doc_id) AS BIGINT) AS order_fp FROM (
             |    SELECT doc_id, row_number() OVER (ORDER BY ord, doc_id) AS r
             |    FROM tagged WHERE split = 'train' ORDER BY ord, doc_id LIMIT 1000
             |  )
             |)
             |SELECT split, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS n_chars, (SELECT order_fp FROM fp) AS order_fp
             |FROM tagged GROUP BY split ORDER BY split""".stripMargin)
    ),

    // O23: one-pass table profiling — the data-quality census every
    // ingestion pipeline runs before admitting a source: per column,
    // row/null/distinct counts plus min/max/mean, exploded to a long
    // (column, metric) layout. ONE scan: all per-column aggregates live
    // in a single global agg (the multi-distinct expands the scan
    // map-side; at 100 TB swap count_distinct for approx_count_distinct
    // — a14's sketch — and the expand disappears), and the long layout
    // is a driver-free explode of that 1-row frame, not per-column
    // passes. Profiling N columns costs one scan regardless of N.
    OracleQuery(
      "o23_table_profile",
      (s, d) => {
        import s.implicits._
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val li = Tables.lineitem(s, d)
        val aggs = count(lit(1)).as("n_rows") +:
          cols.flatMap(c => Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
            countDistinct(col(c)).as(s"${c}_distinct"),
            min(col(c)).as(s"${c}_min"),
            max(col(c)).as(s"${c}_max"),
            round(avg(col(c)), 4).as(s"${c}_mean")))
        // persisted: the long layout fans out as 4 selects over this
        // 1-row frame, and without the cache each branch would replay
        // the full scan + multi-distinct agg — persisting keeps the
        // "one scan regardless of N" contract physical, not just
        // logical (cache cost: one row)
        val wide = li.agg(aggs.head, aggs.tail: _*).persist()
        val longRows = cols.map { c =>
          wide.select(
            lit(c).as("column_name"),
            $"n_rows".cast("bigint").as("n_rows"),
            col(s"${c}_nulls").cast("bigint").as("n_nulls"),
            col(s"${c}_distinct").cast("bigint").as("n_distinct"),
            col(s"${c}_min").cast("double").as("min_v"),
            col(s"${c}_max").cast("double").as("max_v"),
            col(s"${c}_mean").cast("double").as("mean_v"))
        }
        longRows.reduce(_ unionAll _).orderBy($"column_name")
      },
      Some("""WITH w AS (
             |  SELECT count(*) AS n_rows,
             |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_nulls,
             |    count(DISTINCT l_quantity) AS q_distinct,
             |    min(l_quantity) AS q_min, max(l_quantity) AS q_max,
             |    round(avg(l_quantity), 4) AS q_mean,
             |    CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_nulls,
             |    count(DISTINCT l_extendedprice) AS p_distinct,
             |    min(l_extendedprice) AS p_min, max(l_extendedprice) AS p_max,
             |    round(avg(l_extendedprice), 4) AS p_mean,
             |    CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_nulls,
             |    count(DISTINCT l_discount) AS d_distinct,
             |    min(l_discount) AS d_min, max(l_discount) AS d_max,
             |    round(avg(l_discount), 4) AS d_mean,
             |    CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS t_nulls,
             |    count(DISTINCT l_tax) AS t_distinct,
             |    min(l_tax) AS t_min, max(l_tax) AS t_max,
             |    round(avg(l_tax), 4) AS t_mean
             |  FROM lineitem
             |)
             |SELECT 'l_discount' AS column_name, n_rows, d_nulls AS n_nulls,
             |  d_distinct AS n_distinct, CAST(d_min AS DOUBLE) AS min_v,
             |  CAST(d_max AS DOUBLE) AS max_v, CAST(d_mean AS DOUBLE) AS mean_v FROM w
             |UNION ALL
             |SELECT 'l_extendedprice', n_rows, p_nulls, p_distinct,
             |  CAST(p_min AS DOUBLE), CAST(p_max AS DOUBLE), CAST(p_mean AS DOUBLE) FROM w
             |UNION ALL
             |SELECT 'l_quantity', n_rows, q_nulls, q_distinct,
             |  CAST(q_min AS DOUBLE), CAST(q_max AS DOUBLE), CAST(q_mean AS DOUBLE) FROM w
             |UNION ALL
             |SELECT 'l_tax', n_rows, t_nulls, t_distinct,
             |  CAST(t_min AS DOUBLE), CAST(t_max AS DOUBLE), CAST(t_mean AS DOUBLE) FROM w
             |ORDER BY column_name""".stripMargin)
    ),

    // O23b: the approx census's accuracy CONTRACT (a14 pattern). The
    // production path is ops/Profile.tableProfileApprox — HLL sketch,
    // no Expand in the plan (pinned in PlanSpec against o23's exact
    // spelling, which DOES expand) — but HLL estimates are
    // engine-specific, so the gate entry computes exact and approx
    // distincts in ONE agg and emits the exact stats (DuckDB
    // recomputes) plus a within-bound boolean per column (rsd 0.05,
    // 3σ margin 0.15) that DuckDB asserts as TRUE. A drifting sketch
    // flips the boolean and fails the hash gate.
    OracleQuery(
      "o23b_table_profile_approx",
      (s, d) => {
        import s.implicits._
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val li = Tables.lineitem(s, d)
        val aggs = count(lit(1)).as("n_rows") +:
          cols.flatMap(c => Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
            countDistinct(col(c)).as(s"${c}_exact"),
            approx_count_distinct(col(c), 0.05).as(s"${c}_approx"),
            min(col(c)).as(s"${c}_min"),
            max(col(c)).as(s"${c}_max"),
            graft.core.Parity.floorRound4(
              sum(col(c).cast("decimal(28,10)")).cast("double") / count(col(c)))
              .as(s"${c}_mean")))
        val wide = li.agg(aggs.head, aggs.tail: _*).persist()
        cols.map { c =>
          wide.select(
            lit(c).as("column_name"),
            $"n_rows".cast("bigint").as("n_rows"),
            col(s"${c}_nulls").cast("bigint").as("n_nulls"),
            col(s"${c}_exact").cast("bigint").as("n_distinct"),
            (abs(col(s"${c}_approx") - col(s"${c}_exact")).cast("double")
              / col(s"${c}_exact") <= 0.15).as("distinct_ok"),
            col(s"${c}_min").cast("double").as("min_v"),
            col(s"${c}_max").cast("double").as("max_v"),
            col(s"${c}_mean").cast("double").as("mean_v"))
        }.reduce(_ unionAll _).orderBy($"column_name")
      },
      Some("""WITH w AS (
             |  SELECT count(*) AS n_rows,
             |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_nulls,
             |    count(DISTINCT l_quantity) AS q_distinct,
             |    min(l_quantity) AS q_min, max(l_quantity) AS q_max,
             |    floor(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE)
             |      / count(l_quantity) * 10000 + 0.5) / 10000 AS q_mean,
             |    CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_nulls,
             |    count(DISTINCT l_extendedprice) AS p_distinct,
             |    min(l_extendedprice) AS p_min, max(l_extendedprice) AS p_max,
             |    floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE)
             |      / count(l_extendedprice) * 10000 + 0.5) / 10000 AS p_mean,
             |    CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_nulls,
             |    count(DISTINCT l_discount) AS d_distinct,
             |    min(l_discount) AS d_min, max(l_discount) AS d_max,
             |    floor(CAST(sum(CAST(l_discount AS DECIMAL(28,10))) AS DOUBLE)
             |      / count(l_discount) * 10000 + 0.5) / 10000 AS d_mean,
             |    CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS t_nulls,
             |    count(DISTINCT l_tax) AS t_distinct,
             |    min(l_tax) AS t_min, max(l_tax) AS t_max,
             |    floor(CAST(sum(CAST(l_tax AS DECIMAL(28,10))) AS DOUBLE)
             |      / count(l_tax) * 10000 + 0.5) / 10000 AS t_mean
             |  FROM lineitem
             |)
             |SELECT 'l_discount' AS column_name, n_rows, d_nulls AS n_nulls,
             |  d_distinct AS n_distinct, TRUE AS distinct_ok,
             |  CAST(d_min AS DOUBLE) AS min_v, CAST(d_max AS DOUBLE) AS max_v,
             |  CAST(d_mean AS DOUBLE) AS mean_v FROM w
             |UNION ALL
             |SELECT 'l_extendedprice', n_rows, p_nulls, p_distinct, TRUE,
             |  CAST(p_min AS DOUBLE), CAST(p_max AS DOUBLE), CAST(p_mean AS DOUBLE) FROM w
             |UNION ALL
             |SELECT 'l_quantity', n_rows, q_nulls, q_distinct, TRUE,
             |  CAST(q_min AS DOUBLE), CAST(q_max AS DOUBLE), CAST(q_mean AS DOUBLE) FROM w
             |UNION ALL
             |SELECT 'l_tax', n_rows, t_nulls, t_distinct, TRUE,
             |  CAST(t_min AS DOUBLE), CAST(t_max AS DOUBLE), CAST(t_mean AS DOUBLE) FROM w
             |ORDER BY column_name""".stripMargin)
    ),

    // O32: position-delete merge-on-read (ops/DeletionVectors) — the
    // Iceberg-style row-level DELETE: rather than copy-on-write
    // rewriting every file a scattered delete touches (at 100 TB a
    // 0.1% delete touches nearly all of them), deletes are recorded as
    // (file_path, row_index) positions — captured from the parquet
    // reader's own `_metadata` hidden columns — and the read path
    // anti-joins them away with the position table BROADCAST (a delete
    // vector is positions only; the data side pays NO shuffle). Two
    // stacked delete generations here prove membership semantics
    // compose. The gate re-derives the surviving rows from the
    // CONTENT predicates the deletes were captured from, which is
    // exactly the invariant merge-on-read must preserve: positions are
    // an encoding of the predicate snapshot, not new information.
    OracleQuery(
      "o32_position_delete_read",
      (s, d) => {
        import s.implicits._
        val tmp = graft.core.Scratch.dir("dv", d)
        val dataDir = s"$tmp/data"
        val delDir = s"$tmp/deletes"
        graft.sources.Sinks.writeSortedBy(
          Tables.lineitem(s, d), dataDir, Seq("l_shipdate"), numFiles = 4)
        graft.ops.DeletionVectors.addDeletes(
          s, dataDir, delDir, col("l_discount") > 0.08)
        graft.ops.DeletionVectors.addDeletes(
          s, dataDir, delDir, col("l_tax") < 0.02)
        graft.ops.DeletionVectors.read(s, dataDir, delDir)
          .groupBy($"l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum($"l_quantity".cast("long")).as("sum_qty"),
            sum(floor($"l_extendedprice" * 100 + 0.5).cast("long")).as("sum_price_cents"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_price_cents
             |FROM lineitem
             |WHERE NOT (l_discount > 0.08) AND NOT (l_tax < 0.02)
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // O33: equality-delete merge-on-read — the KEYED sibling of o32,
    // and the missing link between streamed CDC and the lakehouse read
    // path: a tombstone stream emits deleted KEYS (it has never seen
    // the table's file layout, so it cannot produce positions). Here
    // the engine's own CDC machinery runs for real — the events table
    // replayed through the streaming snapshot merge (latest row per
    // user by (ts, event_id), exactly stream_cdc_tombstones' state) —
    // and the keys whose LATEST row is a tombstone are committed as an
    // equality-delete generation (DeletionVectors.addKeyDeletes). The
    // read is then one left-anti join on the key column with the
    // delete side BROADCAST (key tombstones are KBs; the data side
    // pays no shuffle). The oracle recomputes the tombstone set from
    // the same latest-per-key rule and subtracts it with NOT IN —
    // merge-on-read must equal the content-level subtraction.
    OracleQuery(
      "o33_equality_delete_read",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"user_id", $"event_id", $"ts", $"value", $"event_type",
            ($"event_type" === "error").as("is_delete"))
        val tmp = graft.core.Scratch.dir("dveq", d)
        // the lakehouse fact table under maintenance
        ev.drop("is_delete").repartition(4)
          .write.mode("overwrite").parquet(s"$tmp/data")
        // CDC replay -> keyed snapshot -> tombstoned keys
        ev.repartition(6).write.mode("overwrite").parquet(s"$tmp/in")
        val src = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 2)
          .parquet(s"$tmp/in")
        graft.streaming.Streams
          .snapshotMergeStream(src, s"$tmp/snap", s"$tmp/ckpt",
            keys = Seq("user_id"), orderBy = Seq("ts", "event_id"))
          .awaitTermination()
        val snap = graft.streaming.Streams.readSnapshot(s, s"$tmp/snap").get
        val nTomb = graft.ops.DeletionVectors.addKeyDeletes(
          s, s"$tmp/eqdel", snap.filter($"is_delete").select($"user_id"))
        require(nTomb > 0, "o33: tombstone stream produced no deleted keys")
        graft.ops.DeletionVectors
          .readWithKeyDeletes(s, s"$tmp/data", s"$tmp/eqdel")
          .groupBy($"event_type")
          .agg(
            count(lit(1)).as("n"),
            countDistinct($"user_id").as("n_users"),
            sum(floor($"value" * 10000 + 0.5).cast("long")).as("sum_val_e4"))
          .orderBy($"event_type")
      },
      Some("""WITH ranked AS (
             |  SELECT user_id, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events
             |), dead AS (
             |  SELECT user_id FROM ranked WHERE rn = 1 AND event_type = 'error'
             |)
             |SELECT e.event_type,
             |  count(*) AS n,
             |  count(DISTINCT e.user_id) AS n_users,
             |  CAST(sum(CAST(floor(e.value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_val_e4
             |FROM events e
             |WHERE e.user_id NOT IN (SELECT user_id FROM dead)
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // O34: snapshot time travel (ops/Snapshots) — the repeatable-read
    // contract of the versioned manifest, driven through a real
    // maintenance sequence: commit s0 = yesterday's load (even order
    // keys), s1 = today's append (odd keys), s2 = a COMPACTION
    // REWRITE of the whole layout (outputs land beside the inputs;
    // the snapshot swaps the file list, nothing is deleted). The gate
    // reads ALL THREE snapshots AFTER the compaction: s0 must still
    // see only yesterday's rows (through the original files), and s1
    // vs s2 must agree exactly even though s2 reads entirely
    // different bytes — a table is its snapshot's file list, not a
    // directory. The oracle recomputes each snapshot's content from
    // the commit predicates.
    OracleQuery(
      "o34_time_travel_read",
      (s, d) => {
        import s.implicits._
        val tmp = graft.core.Scratch.dir("snapttq", d)
        val orders = Tables.orders(s, d)
        orders.filter($"o_orderkey" % 2 === 0).repartition(2)
          .write.mode("overwrite").parquet(s"$tmp/data")
        graft.ops.Snapshots.commitFromFs(s, s"$tmp/data", s"$tmp/snaps",
          Seq("o_orderkey"))
        orders.filter($"o_orderkey" % 2 === 1).repartition(2)
          .write.mode("append").parquet(s"$tmp/data")
        graft.ops.Snapshots.commitFromFs(s, s"$tmp/data", s"$tmp/snaps",
          Seq("o_orderkey"))
        val groups = graft.ops.Compaction.plan(s, s"$tmp/data", 1L << 30)
        val multi = groups.filter(_.files.length > 1)
        graft.ops.Compaction.compact(s, multi, s"$tmp/cout")
        graft.ops.Snapshots.commitRewrite(s, s"$tmp/snaps",
          removed = multi.flatMap(_.files).map(_.path),
          addedDir = s"$tmp/cout", cols = Seq("o_orderkey"))
        Seq(0L, 1L, 2L).map { snap =>
          graft.ops.Snapshots.readAt(s, s"$tmp/snaps", snap)
            .agg(
              count(lit(1)).as("n"),
              sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
                .as("sum_price_cents"))
            .select(lit(snap).as("snap"), $"n", $"sum_price_cents")
        }.reduce(_ unionAll _).orderBy($"snap")
      },
      Some("""SELECT 0 AS snap, count(*) AS n,
             |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents
             |FROM orders WHERE o_orderkey % 2 = 0
             |UNION ALL
             |SELECT 1, count(*),
             |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |FROM orders
             |UNION ALL
             |SELECT 2, count(*),
             |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |FROM orders
             |ORDER BY snap""".stripMargin)
    ),

    // O35: incremental snapshot consumption — the CDC-consumer read on
    // the versioned manifest (Iceberg's incremental scan): a consumer
    // that processed commit s0 reads ONLY the files s1 added, never
    // rescanning the table — at 100 TB the difference between an
    // O(delta) nightly feed and an O(table) one. Append-only lineage
    // is enforced (a rewrite between the snapshots fails the read
    // loudly — SnapshotsSpec pins it); here the delta is exactly
    // today's append, and the gate proves the incremental read equals
    // the commit's content predicate.
    OracleQuery(
      "o35_snapshot_incremental_read",
      (s, d) => {
        import s.implicits._
        val tmp = graft.core.Scratch.dir("snapincr", d)
        val orders = Tables.orders(s, d)
        orders.filter($"o_orderkey" % 2 === 0).repartition(2)
          .write.mode("overwrite").parquet(s"$tmp/data")
        graft.ops.Snapshots.commitFromFs(s, s"$tmp/data", s"$tmp/snaps",
          Seq("o_orderkey"))
        orders.filter($"o_orderkey" % 2 === 1).repartition(2)
          .write.mode("append").parquet(s"$tmp/data")
        graft.ops.Snapshots.commitFromFs(s, s"$tmp/data", s"$tmp/snaps",
          Seq("o_orderkey"))
        graft.ops.Snapshots.readIncremental(s, s"$tmp/snaps", 0L, 1L)
          .groupBy($"o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
              .as("sum_price_cents"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_price_cents
             |FROM orders WHERE o_orderkey % 2 = 1
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // O36: snapshot time travel UNDER merge-on-read maintenance — the
    // Snapshots × DeletionVectors composition (Iceberg v2 sequence
    // numbers): each commit records the delete generations visible to
    // it, readAt merges exactly that snapshot's delete set, and an
    // equality tombstone applies only to data files with strictly
    // smaller commit sequence — so a key re-inserted AFTER its
    // tombstone survives (the delete-forever caveat retired). Four
    // snapshots drive the whole lifecycle against real TPC-H rows:
    // s0 base, s1 + position deletes (o_orderkey % 7 = 0), s2 + CDC
    // tombstones (o_orderkey % 10 = 3), s3 re-inserts the % 20 = 3
    // half of the tombstoned keys. The oracle recomputes each
    // snapshot's content as a pure predicate over the source table —
    // a time-travel read that resurrected deleted rows (the r13 gap)
    // or swallowed the re-insert would hash-mismatch.
    OracleQuery(
      "o36_snapshot_mor_read",
      (s, d) => {
        import s.implicits._
        val tmp = graft.core.Scratch.dir("snapmor", d)
        val orders = Tables.orders(s, d)
        orders.repartition(2).write.mode("overwrite").parquet(s"$tmp/data")
        val dv = s"$tmp/dv"; val eq = s"$tmp/eq"
        def commit(): Unit = {
          graft.ops.Snapshots.commitFromFs(s, s"$tmp/data", s"$tmp/snaps",
            Seq("o_orderkey"), posDeleteDir = Some(dv), eqDeleteDir = Some(eq))
          ()
        }
        commit() // s0: base
        graft.ops.DeletionVectors.addDeletes(s, s"$tmp/data", dv,
          $"o_orderkey" % 7 === 0)
        commit() // s1: position deletes visible
        graft.ops.DeletionVectors.addKeyDeletes(s, eq,
          orders.filter($"o_orderkey" % 10 === 3)
            .select($"o_orderkey").distinct())
        commit() // s2: equality tombstones visible (seq 2)
        orders.filter($"o_orderkey" % 20 === 3)
          .repartition(1).write.mode("append").parquet(s"$tmp/data")
        commit() // s3: re-insert lands at seq 3 > tombstone seq — survives
        Seq(0L, 1L, 2L, 3L).map { snap =>
          graft.ops.Snapshots.readAt(s, s"$tmp/snaps", snap)
            .agg(
              count(lit(1)).as("n"),
              sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
                .as("sum_price_cents"))
            .select(lit(snap).as("snap"), $"n", $"sum_price_cents")
        }.reduce(_ unionAll _).orderBy($"snap")
      },
      Some("""WITH cents AS (
             |  SELECT o_orderkey AS k,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
             |  FROM orders
             |)
             |SELECT 0 AS snap, count(*) AS n, CAST(sum(c) AS BIGINT) AS sum_price_cents
             |FROM cents
             |UNION ALL
             |SELECT 1, count(*), CAST(sum(c) AS BIGINT) FROM cents WHERE k % 7 <> 0
             |UNION ALL
             |SELECT 2, count(*), CAST(sum(c) AS BIGINT) FROM cents
             |WHERE k % 7 <> 0 AND k % 10 <> 3
             |UNION ALL
             |SELECT 3, count(*), CAST(sum(c) AS BIGINT) FROM (
             |  SELECT c FROM cents WHERE k % 7 <> 0 AND k % 10 <> 3
             |  UNION ALL
             |  SELECT c FROM cents WHERE k % 20 = 3
             |) t
             |ORDER BY snap""".stripMargin)
    ),

    // O37: MERGE upsert as ONE snapshot commit — the operation the
    // sequence scoping exists to make expressible (Iceberg v2's MERGE
    // encoding): the writer lands a data file with the keys' NEW
    // versions AND an equality-tombstone generation for the same keys,
    // then commits once. Both carry the commit's sequence, so the
    // tombstone erases the old versions (files with strictly smaller
    // sequence) while the new file — same keys, same sequence —
    // survives: exactly upsert, no read-modify-write of the base
    // table, no key ever present twice. Keys o_orderkey % 10 = 7 get
    // their price doubled (exact cents algebra); n_keys =
    // count(DISTINCT) proves single-version-per-key at both snapshots,
    // and the pre-merge snapshot still reads the old versions.
    OracleQuery(
      "o37_snapshot_merge_upsert",
      (s, d) => {
        import s.implicits._
        val tmp = graft.core.Scratch.dir("snapmerge", d)
        val orders = Tables.orders(s, d)
        orders.repartition(2).write.mode("overwrite").parquet(s"$tmp/data")
        val eq = s"$tmp/eq"
        graft.ops.Snapshots.commitFromFs(s, s"$tmp/data", s"$tmp/snaps",
          Seq("o_orderkey"), eqDeleteDir = Some(eq)) // s0: base
        // the MERGE batch: new versions (price doubled, exact cents)
        // appended + tombstones for the same keys, ONE commit
        orders.filter($"o_orderkey" % 10 === 7)
          .withColumn("o_totalprice",
            floor($"o_totalprice" * 100 + 0.5).cast("long") * 2 / lit(100.0))
          .repartition(1).write.mode("append").parquet(s"$tmp/data")
        graft.ops.DeletionVectors.addKeyDeletes(s, eq,
          orders.filter($"o_orderkey" % 10 === 7).select($"o_orderkey"))
        graft.ops.Snapshots.commitFromFs(s, s"$tmp/data", s"$tmp/snaps",
          Seq("o_orderkey"), eqDeleteDir = Some(eq)) // s1: the merge
        Seq(0L, 1L).map { snap =>
          graft.ops.Snapshots.readAt(s, s"$tmp/snaps", snap)
            .agg(
              count(lit(1)).as("n"),
              countDistinct($"o_orderkey").as("n_keys"),
              sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
                .as("sum_price_cents"))
            .select(lit(snap).as("snap"), $"n", $"n_keys", $"sum_price_cents")
        }.reduce(_ unionAll _).orderBy($"snap")
      },
      Some("""WITH cents AS (
             |  SELECT o_orderkey AS k,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
             |  FROM orders
             |)
             |SELECT 0 AS snap, count(*) AS n, count(DISTINCT k) AS n_keys,
             |  CAST(sum(c) AS BIGINT) AS sum_price_cents
             |FROM cents
             |UNION ALL
             |SELECT 1, count(*), count(DISTINCT k),
             |  CAST(sum(CASE WHEN k % 10 = 7 THEN 2 * c ELSE c END) AS BIGINT)
             |FROM cents
             |ORDER BY snap""".stripMargin)
    ),

    // O38: EXACTLY-ONCE stream→snapshot ingestion under forced retry —
    // the Snapshots.commitStreamBatch contract driven end-to-end:
    // three "micro-batches" (o_orderkey residues mod 3) ingest through
    // the batchId-keyed sink, and batch 1 is delivered THREE times —
    // once crashing mid-append (partial files under its batch dir, no
    // commit), once completing, once redelivered after its commit (the
    // post-append/pre-checkpoint crash Structured Streaming's contract
    // puts on the sink). A double-append, a leaked partial file, or a
    // phantom fourth snapshot each changes a row — the oracle
    // recomputes every snapshot's total AND its incremental delta as
    // pure residue-class sums over the source table.
    OracleQuery(
      "o38_stream_exactly_once_ingest",
      (s, d) => {
        import s.implicits._
        val tmp = graft.core.Scratch.dir("snapingest", d)
        val orders = Tables.orders(s, d)
        def batch(i: Long) = orders.filter($"o_orderkey" % 3 === i)
        def commit(i: Long): Unit = {
          graft.ops.Snapshots.commitStreamBatch(s, s"$tmp/data",
            s"$tmp/snaps", Seq("o_orderkey"), i, batch(i).repartition(1))
          ()
        }
        commit(0L)
        // crash window 1: an attempt died mid-append — partial files
        // under the batch dir, NO snapshot commit
        batch(1L).filter($"o_orderkey" % 2 === 0)
          .repartition(1).write.mode("overwrite").parquet(s"$tmp/data/batch=1")
        commit(1L) // the retry: overwrites the partials, commits once
        commit(1L) // crash window 2: post-commit redelivery must no-op
        commit(2L)
        def sums(df: DataFrame, nCol: String, cCol: String) =
          df.agg(count(lit(1)).as(nCol),
            sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as(cCol))
        graft.ops.Snapshots.snapshots(s, s"$tmp/snaps").map { snap =>
          val full = graft.ops.Snapshots.readAt(s, s"$tmp/snaps", snap)
          val delta =
            if (snap == 0L) full
            else graft.ops.Snapshots.readIncremental(
              s, s"$tmp/snaps", snap - 1, snap)
          sums(full, "n", "sum_price_cents")
            .crossJoin(sums(delta, "delta_n", "delta_sum_cents"))
            .select(lit(snap).as("snap"), $"n", $"sum_price_cents",
              $"delta_n", $"delta_sum_cents")
        }.reduce(_ unionAll _).orderBy($"snap")
      },
      Some("""WITH cents AS (
             |  SELECT o_orderkey % 3 AS r,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
             |  FROM orders
             |), per AS (
             |  SELECT r, count(*) AS n, CAST(sum(c) AS BIGINT) AS s
             |  FROM cents GROUP BY r
             |)
             |SELECT p.r AS snap,
             |  CAST(sum(q.n) AS BIGINT) AS n,
             |  CAST(sum(q.s) AS BIGINT) AS sum_price_cents,
             |  CAST(max(CASE WHEN q.r = p.r THEN q.n END) AS BIGINT) AS delta_n,
             |  CAST(max(CASE WHEN q.r = p.r THEN q.s END) AS BIGINT)
             |    AS delta_sum_cents
             |FROM per p JOIN per q ON q.r <= p.r
             |GROUP BY p.r ORDER BY snap""".stripMargin)
    ),

    // O39: exactly-once MERGE-stream ingestion — the CDC-upsert stream
    // composed with batchId-keyed snapshot commits. A merge micro-batch
    // carries MORE than a data append: it also adds an equality-
    // tombstone generation for the upserted keys, and that add is NOT
    // replay-idempotent after the commit — a redelivered tombstone
    // would dangle until the NEXT commit's watermark, arrive with that
    // LATER sequence, and erase the batch's own new versions (file seq
    // < gen seq). So the foreachBatch body guards on
    // Snapshots.streamBatchCommitted BEFORE any side effect. The row
    // drives base load → merge (keys %10=7 doubled) with a forced
    // crash mid-batch (tombstones landed + partial data, no commit)
    // AND a post-commit redelivery → second merge (keys %10=3
    // tripled); the oracle recomputes every snapshot's census as pure
    // cents algebra — a killed new version, doubled append, or phantom
    // snapshot each changes a row.
    OracleQuery(
      "o39_stream_merge_ingest",
      (s, d) => {
        import s.implicits._
        val tmp = graft.core.Scratch.dir("snapmergein", d)
        val data = s"$tmp/data"; val root = s"$tmp/snaps"; val eq = s"$tmp/eq"
        val orders = Tables.orders(s, d)
        def cents = floor($"o_totalprice" * 100 + 0.5).cast("long")
        def newVersions(m: Long, factor: Int) =
          orders.filter($"o_orderkey" % 10 === m)
            .withColumn("o_totalprice", cents * factor / lit(100.0))
        def tombs(m: Long) =
          orders.filter($"o_orderkey" % 10 === m).select($"o_orderkey")
        def mergeBatch(id: Long, df: DataFrame, tombMod: Option[Long]): Unit =
          if (!graft.ops.Snapshots.streamBatchCommitted(s, data, root, id)) {
            tombMod.foreach(m =>
              graft.ops.DeletionVectors.addKeyDeletes(s, eq, tombs(m)))
            graft.ops.Snapshots.commitStreamBatch(s, data, root,
              Seq("o_orderkey"), id, df.repartition(1),
              eqDeleteDir = Some(eq))
            ()
          }
        mergeBatch(0L, orders, None) // base load
        // crash mid-merge: tombstones landed, data partially appended,
        // NO commit — the retry re-adds the (effect-idempotent, same
        // sequence) tombstones and overwrites the partial files
        graft.ops.DeletionVectors.addKeyDeletes(s, eq, tombs(7L))
        newVersions(7L, 2).filter($"o_orderkey" % 20 === 7)
          .repartition(1).write.mode("overwrite").parquet(s"$data/batch=1")
        mergeBatch(1L, newVersions(7L, 2), Some(7L)) // the retry commits once
        mergeBatch(1L, newVersions(7L, 2), Some(7L)) // post-commit redelivery: guard skips ALL of it
        mergeBatch(2L, newVersions(3L, 3), Some(3L)) // second merge
        graft.ops.Snapshots.snapshots(s, s"$tmp/snaps").map { snap =>
          graft.ops.Snapshots.readAt(s, s"$tmp/snaps", snap)
            .agg(
              count(lit(1)).as("n"),
              countDistinct($"o_orderkey").as("n_keys"),
              sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
                .as("sum_price_cents"))
            .select(lit(snap).as("snap"), $"n", $"n_keys", $"sum_price_cents")
        }.reduce(_ unionAll _).orderBy($"snap")
      },
      Some("""WITH cents AS (
             |  SELECT o_orderkey AS k,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
             |  FROM orders
             |)
             |SELECT 0 AS snap, count(*) AS n, count(DISTINCT k) AS n_keys,
             |  CAST(sum(c) AS BIGINT) AS sum_price_cents
             |FROM cents
             |UNION ALL
             |SELECT 1, count(*), count(DISTINCT k),
             |  CAST(sum(CASE WHEN k % 10 = 7 THEN 2 * c ELSE c END) AS BIGINT)
             |FROM cents
             |UNION ALL
             |SELECT 2, count(*), count(DISTINCT k),
             |  CAST(sum(CASE WHEN k % 10 = 7 THEN 2 * c
             |                WHEN k % 10 = 3 THEN 3 * c ELSE c END) AS BIGINT)
             |FROM cents
             |ORDER BY snap""".stripMargin)
    ),

    // O40: CHANGELOG scan (CDC with retractions) — the production exit
    // from readIncremental's fail-loud contract: when a window's
    // deletes land on pre-window files, an append-only consumer must
    // resync, but a changefeed consumer receives the removed rows as
    // explicit "delete" records and stays exact. Window 0→1 mixes an
    // append (odd keys), position deletes on the base files (%14=0)
    // and equality tombstones (%10=4, sequence-scoped past the new
    // file); window 1→2 re-deletes %14=0 (idempotent — already-dead
    // rows must NOT re-retract) plus a fresh %6=2 delete and appends
    // nothing. The oracle recomputes every (window, change) census as
    // pure residue predicates: a double retraction, a resurrected row,
    // or an insert leaking a deleted key each changes a row.
    OracleQuery(
      "o40_snapshot_changefeed",
      (s, d) => {
        import s.implicits._
        val tmp = graft.core.Scratch.dir("snapcdc", d)
        val data = s"$tmp/data"; val root = s"$tmp/snaps"
        val dv = s"$tmp/dv"; val eq = s"$tmp/eq"
        val orders = Tables.orders(s, d)
        def commit(): Unit = {
          graft.ops.Snapshots.commitFromFs(s, data, root, Seq("o_orderkey"),
            posDeleteDir = Some(dv), eqDeleteDir = Some(eq))
          ()
        }
        orders.filter($"o_orderkey" % 2 === 0)
          .repartition(2).write.mode("overwrite").parquet(data)
        commit() // s0: the even-key base
        orders.filter($"o_orderkey" % 2 === 1)
          .repartition(1).write.mode("append").parquet(data)
        graft.ops.DeletionVectors.addDeletes(s, data, dv,
          $"o_orderkey" % 14 === 0)
        graft.ops.DeletionVectors.addKeyDeletes(s, eq,
          orders.filter($"o_orderkey" % 10 === 4)
            .select($"o_orderkey").distinct())
        commit() // s1: append + deletes on pre-window files
        graft.ops.DeletionVectors.addDeletes(s, data, dv,
          $"o_orderkey" % 14 === 0) // idempotent re-delete: no retraction
        graft.ops.DeletionVectors.addDeletes(s, data, dv,
          $"o_orderkey" % 6 === 2)
        commit() // s2: delete-only window
        Seq((0L, 1L), (1L, 2L)).map { case (f, t) =>
          graft.ops.Snapshots.readChangefeed(s, root, f, t)
            .groupBy($"_change_type")
            .agg(
              count(lit(1)).as("n"),
              sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
                .as("sum_price_cents"))
            .select(lit(t).as("win"), $"_change_type".as("change"),
              $"n", $"sum_price_cents")
        }.reduce(_ unionAll _).orderBy($"win", $"change")
      },
      Some("""WITH cents AS (
             |  SELECT o_orderkey AS k,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
             |  FROM orders
             |)
             |SELECT 1 AS win, 'delete' AS change, count(*) AS n,
             |  CAST(sum(c) AS BIGINT) AS sum_price_cents
             |FROM cents WHERE k % 2 = 0 AND (k % 14 = 0 OR k % 10 = 4)
             |UNION ALL
             |SELECT 1, 'insert', count(*), CAST(sum(c) AS BIGINT)
             |FROM cents WHERE k % 2 = 1
             |UNION ALL
             |SELECT 2, 'delete', count(*), CAST(sum(c) AS BIGINT)
             |FROM cents
             |WHERE k % 2 = 0 AND k % 6 = 2 AND NOT (k % 14 = 0 OR k % 10 = 4)
             |ORDER BY win, change""".stripMargin)
    ),

    // O41: INCREMENTAL VIEW MAINTENANCE off the changefeed — the
    // composition o40 exists to feed: a derived aggregate (per-group
    // n / sum / min / max over the snapshot table) kept EXACT under
    // deletes without recompute, by applying each window's changefeed
    // as signed deltas (ops/IncrementalAgg: mergeable state merges
    // with the ±1-weighted feed; min/max recompute only for
    // delta-touched groups). The lifecycle replays o40's (append +
    // position deletes + sequence-scoped tombstones, then a
    // delete-only window), the view is maintained across BOTH windows,
    // and the emitted table is the MAINTAINED one — the oracle
    // recomputes the final aggregate from scratch as pure residue
    // predicates, so any drift (a lost retraction, a double-applied
    // delta, a stale untouched group) flips the hash.
    OracleQuery(
      "o41_changefeed_view_maintenance",
      (s, d) => {
        import s.implicits._
        val tmp = graft.core.Scratch.dir("snapview", d)
        val data = s"$tmp/data"; val root = s"$tmp/snaps"
        val dv = s"$tmp/dv"; val eq = s"$tmp/eq"
        val orders = Tables.orders(s, d)
        def commit(): Unit = {
          graft.ops.Snapshots.commitFromFs(s, data, root, Seq("o_orderkey"),
            posDeleteDir = Some(dv), eqDeleteDir = Some(eq))
          ()
        }
        orders.filter($"o_orderkey" % 2 === 0)
          .repartition(2).write.mode("overwrite").parquet(data)
        commit() // s0
        orders.filter($"o_orderkey" % 2 === 1)
          .repartition(1).write.mode("append").parquet(data)
        graft.ops.DeletionVectors.addDeletes(s, data, dv,
          $"o_orderkey" % 14 === 0)
        graft.ops.DeletionVectors.addKeyDeletes(s, eq,
          orders.filter($"o_orderkey" % 10 === 4)
            .select($"o_orderkey").distinct())
        commit() // s1
        graft.ops.DeletionVectors.addDeletes(s, data, dv,
          $"o_orderkey" % 6 === 2)
        commit() // s2: delete-only window — untouched groups must keep
                 // their stored rows
        val spec = graft.ops.IncrementalAgg.Spec(
          keys = Seq("g"), sumCols = Seq("cents"),
          minMaxCols = Seq("o_orderkey"))
        def derived(df: org.apache.spark.sql.DataFrame) = df.select(
          ($"o_orderkey" % 7).as("g"),
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
          $"o_orderkey")
        def signed(f: Long, t: Long) =
          graft.ops.Snapshots.readChangefeed(s, root, f, t)
            .withColumn("w",
              when($"_change_type" === "insert", 1).otherwise(-1))
            .select(($"o_orderkey" % 7).as("g"),
              floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
              $"o_orderkey", $"w")
        def tableAt(snap: Long) =
          derived(graft.ops.Snapshots.readAt(s, root, snap))
        // maintain() references its `stored` input twice (merged→
        // touched ∪ untouched), but the duplicated subtrees are
        // identical exchanges and AQE's stage reuse computes them once
        // — an eager localCheckpoint per window was MEASURED SLOWER
        // here (10.6 s vs 8.4 s solo at sf0.1: two extra
        // materialization barriers for a reuse that already happened),
        // so the chain stays lazy
        val v0 = graft.ops.IncrementalAgg.storedAggregate(tableAt(0L), spec)
        val v1 = graft.ops.IncrementalAgg.maintain(
          v0, signed(0L, 1L), tableAt(1L), spec)
        val v2 = graft.ops.IncrementalAgg.maintain(
          v1, signed(1L, 2L), tableAt(2L), spec)
        v2.select($"g", $"n", $"sum_cents".cast("long").as("sum_cents"),
            $"min_o_orderkey", $"max_o_orderkey")
          .orderBy($"g")
      },
      Some("""WITH cents AS (
             |  SELECT o_orderkey AS k,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
             |  FROM orders
             |), alive AS (
             |  SELECT k, c FROM cents
             |  WHERE (k % 2 = 0 AND NOT (k % 14 = 0 OR k % 10 = 4 OR k % 6 = 2))
             |     OR k % 2 = 1
             |)
             |SELECT k % 7 AS g, count(*) AS n, CAST(sum(c) AS BIGINT) AS sum_cents,
             |  min(k) AS min_o_orderkey, max(k) AS max_o_orderkey
             |FROM alive GROUP BY 1 ORDER BY g""".stripMargin)
    ),

    // O42: WRITE-AUDIT-PUBLISH through branch refs — the data-platform
    // pattern snapshots exist to enable: every load lands on a BRANCH
    // (its own `_branch-` lineage, staged data outside main's data
    // dir), gets audited against the branch's own read path, and only
    // then fast-forwards onto main — a rename of already-committed
    // manifests, never a rewrite. The second load is delivered TWICE:
    // first as a PLANTED-BAD batch (every row duplicated — the audit's
    // count vs distinct check trips) whose branch is dropped, then as
    // the clean batch on a fresh branch. The emitted rows are MAIN's
    // per-snapshot census; the oracle recomputes the never-corrupted
    // lineage as pure residue predicates, so a leaked bad batch, a
    // branch commit visible before publish, or a lost publish each
    // flip the hash. The in-entry require proves the audit actually
    // REJECTED something (the gate must never pass vacuously).
    OracleQuery(
      "o42_wap_branch_audit",
      (s, d) => {
        import s.implicits._
        val tmp = graft.core.Scratch.dir("snapwap", d)
        val data = s"$tmp/data"; val root = s"$tmp/snaps"
        val orders = Tables.orders(s, d)
        orders.filter($"o_orderkey" % 2 === 0)
          .repartition(2).write.mode("overwrite").parquet(data)
        graft.ops.Snapshots.commitFromFs(s, data, root, Seq("o_orderkey"))
        // load 1: the %4==1 slice, staged branch-private, audited, published
        graft.ops.Snapshots.createBranch(s, root, "load-1")
        orders.filter($"o_orderkey" % 4 === 1)
          .repartition(1).write.parquet(s"$tmp/stage1")
        val b1 = graft.ops.Snapshots.branchRoot(root, "load-1")
        graft.ops.Snapshots.commitFromFs(s, s"$tmp/stage1", b1, Seq("o_orderkey"))
        val a1 = graft.ops.Snapshots.readAt(s, b1, 1L)
          .agg(count(lit(1)), countDistinct($"o_orderkey")).collect()(0)
        require(a1.getLong(0) == a1.getLong(1), "load-1 audit must pass")
        graft.ops.Snapshots.fastForward(s, root, "load-1")
        // load 2, delivery 1: PLANTED BAD (every row doubled) — the
        // audit on the BRANCH trips and the branch is dropped
        val slice2 = orders.filter($"o_orderkey" % 4 === 3)
        graft.ops.Snapshots.createBranch(s, root, "load-2")
        slice2.unionAll(slice2)
          .repartition(1).write.parquet(s"$tmp/stage2bad")
        val b2 = graft.ops.Snapshots.branchRoot(root, "load-2")
        graft.ops.Snapshots.commitFromFs(s, s"$tmp/stage2bad", b2, Seq("o_orderkey"))
        val a2 = graft.ops.Snapshots.readAt(s, b2, 2L)
          .filter($"o_orderkey" % 2 === 1)
          .agg(count(lit(1)), countDistinct($"o_orderkey")).collect()(0)
        require(a2.getLong(0) > a2.getLong(1),
          "the planted duplication must trip the audit - a vacuous gate proves nothing")
        graft.ops.Snapshots.dropBranch(s, root, "load-2")
        // load 2, delivery 2: the clean slice on a fresh branch, published
        graft.ops.Snapshots.createBranch(s, root, "load-2")
        slice2.repartition(1).write.parquet(s"$tmp/stage2")
        graft.ops.Snapshots.commitFromFs(s, s"$tmp/stage2", b2, Seq("o_orderkey"))
        graft.ops.Snapshots.fastForward(s, root, "load-2")
        // MAIN's lineage census — must equal the never-branched run
        graft.ops.Snapshots.snapshots(s, root).map { snap =>
          graft.ops.Snapshots.readAt(s, root, snap)
            .agg(
              count(lit(1)).as("n"),
              countDistinct($"o_orderkey").as("n_keys"),
              sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
                .as("sum_price_cents"))
            .select(lit(snap).as("snap"), $"n", $"n_keys", $"sum_price_cents")
        }.reduce(_ unionAll _).orderBy($"snap")
      },
      Some("""WITH cents AS (
             |  SELECT o_orderkey AS k,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
             |  FROM orders
             |)
             |SELECT 0 AS snap, count(*) AS n, count(DISTINCT k) AS n_keys,
             |  CAST(sum(c) AS BIGINT) AS sum_price_cents
             |FROM cents WHERE k % 2 = 0
             |UNION ALL
             |SELECT 1, count(*), count(DISTINCT k), CAST(sum(c) AS BIGINT)
             |FROM cents WHERE k % 2 = 0 OR k % 4 = 1
             |UNION ALL
             |SELECT 2, count(*), count(DISTINCT k), CAST(sum(c) AS BIGINT)
             |FROM cents
             |ORDER BY snap""".stripMargin)
    )
  )

  /** Round a driver-side double to 4 decimals the way `round(col, 4)`
    * does (HALF_UP on the decimal representation) so driver-computed
    * scalars hash-match the oracle's round(). */
  private def bd4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
}
