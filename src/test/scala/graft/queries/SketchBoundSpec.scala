package graft.queries

import graft.SparkSpec

/** Sketch accuracy proofs. The driver gate checks the CONTRACT (the
  * a14/a15/a16b/a17b entries emit within-bound booleans that DuckDB
  * asserts against independently-computed exact values); this spec
  * proves the realized NUMBERS behind those booleans — the relative
  * error of approx_count_distinct(rsd=0.05) inside a 3×rsd envelope
  * and the GK quantiles within 5% of exact in value space, on real
  * testdata (the sketches are deterministic for fixed input). */
class SketchBoundSpec extends SparkSpec {

  test("a15: GK approx quantiles within 5% of exact, per group; gate booleans true") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // accuracy=1000 bounds the RANK error at n/1000; on these price
    // distributions that translates to well under 5% in value space
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = Registry.queries("a15_approx_quantile")(spark, sf).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getAs[Boolean]("p50_within") && r.getAs[Boolean]("p95_within"),
          s"$sf ${r.getAs[String]("l_returnflag")}: rank-band boolean false")
      }
      // realized value-space error, recomputed here since the entry
      // exposes only the contract booleans
      val realized = graft.core.Tables.lineitem(spark, sf)
        .groupBy($"l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, array(0.5, 0.95))").as("ex"),
          expr("percentile_approx(l_extendedprice, array(0.5, 0.95), 1000)").as("ap"))
        .collect()
      realized.foreach { r =>
        val ex = r.getSeq[Double](1); val ap = r.getSeq[Double](2)
        ex.zip(ap).foreach { case (e, a) =>
          assert(math.abs(a - e) / e <= 0.05,
            s"$sf ${r.getString(0)}: approx $a vs exact $e")
        }
      }
    }
  }

  test("HLL sketches re-aggregate: daily sketch union equals the direct estimate") {
    // The property that makes 100 TB distinct-count dashboards possible:
    // persist one sketch per (slice, day) and answer ANY date-range
    // distinct-count by merging sketches — never rescanning the fact.
    // Union of same-lgK HLL sketches is register-wise max, i.e. exactly
    // the sketch the direct pass builds, so the reaggregated estimate
    // must EQUAL the direct one (not just approximate it); both stay
    // inside the usual error envelope of the exact count.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.01")
    val daily = ev.groupBy(date_trunc("day", $"ts").as("day"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val merged = daily.agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est"))
      .first().getLong(0)
    val direct = ev.agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
      .first().getLong(0)
    val exact = ev.select(countDistinct($"user_id")).first().getLong(0)
    assert(merged == direct,
      s"sketch reaggregation diverged: merged=$merged direct=$direct")
    assert(math.abs(merged - exact).toDouble / exact <= 0.15,
      s"estimate $merged outside 3-sigma envelope of exact $exact")
  }

  test("a14: HLL approx distinct within 3×rsd of exact, per group; gate booleans true") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = Registry.queries("a14_approx_distinct")(spark, sf).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getAs[Boolean]("within_bound"),
          s"$sf ${r.getAs[String]("event_type")}: within_bound false")
      }
      val realized = graft.core.Tables.events(spark, sf)
        .groupBy($"event_type")
        .agg(countDistinct($"user_id").as("ex"),
          approx_count_distinct($"user_id", 0.05).as("ap"))
        .collect()
      realized.foreach { r =>
        val relErr = math.abs(r.getLong(2) - r.getLong(1)).toDouble / r.getLong(1)
        assert(relErr <= 0.15,
          s"$sf ${r.getString(0)}: rel_err $relErr exceeds 3×rsd envelope 0.15")
      }
    }
  }

  test("a16b/a17b: approx-twin gate booleans all true at sf0.01") {
    val w = Registry.queries("a16b_winsorize_approx")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(w.nonEmpty)
    w.foreach { r =>
      assert(r.getAs[Boolean]("mean_ok") && r.getAs[Boolean]("clip_ok") &&
        r.getAs[Boolean]("band_ok"), s"${r.getAs[String]("event_type")}: $r")
    }
    val z = Registry.queries("a17b_robust_zscore_approx")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(z.nonEmpty)
    z.foreach { r =>
      assert(r.getAs[Boolean]("outliers_ok") && r.getAs[Boolean]("maxrz_ok"),
        s"${r.getAs[String]("event_type")}: $r")
    }
  }

  test("o29/o30: stored KLL and theta sketch gate booleans all true at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    // o29 never stores an all-null day's EMPTY sketch (KllSketchSpec)
    assert(graft.core.Tables.events(spark, sf).filter("value IS NULL").isEmpty)
    for ((q, oks) <- Seq(
        "o29_kll_sketch_table" -> Seq("p50_ok", "p95_ok"),
        "o30_theta_audience_overlap" -> Seq("inter_ok", "diff_ok"))) {
      val rows = Registry.queries(q)(spark, sf).collect()
      assert(rows.nonEmpty, q)
      assert(rows.head.schema.fieldNames.filter(_.endsWith("_ok")).toSeq == oks, q)
      rows.foreach(r => oks.foreach(c => assert(r.getAs[Boolean](c), s"$q $c: $r")))
    }
  }
}
