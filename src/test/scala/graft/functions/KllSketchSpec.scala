package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Spark's KLL quantile built-ins, on the contract `o29_kll_sketch_table`
  * relies on: rank guarantee on known data, parquet binary round-trip
  * through a generation-split stored table, exact extremes. KLL
  * compaction is internally randomized, so assertions are rank BRACKETS
  * (the sketch's actual contract), never exact values. */
class KllSketchSpec extends SparkSpec {
  import spark.implicits._

  test("rank guarantee on a known distribution; union over stored generations holds it") {
    // 20k uniform values over 40 groups: true quantiles are known
    val df = (0 until 20000).map(i => (i % 40, i.toDouble)).toDF("g", "v")
    val daily = df.groupBy($"g").agg(expr("kll_sketch_agg_double(v, 200)").as("sk"))
    val dir = java.nio.file.Files.createTempDirectory("kll_tbl").toString
    daily.filter($"g" < 20).write.mode("overwrite").parquet(s"$dir/t")
    daily.filter($"g" >= 20).write.mode("append").parquet(s"$dir/t")
    val q = spark.read.parquet(s"$dir/t")
      .agg(expr("kll_merge_agg_double(sk)").as("u"))
      .select(
        expr("kll_sketch_get_quantile_double(u, 0.5d)").as("p50"),
        expr("kll_sketch_get_quantile_double(u, 0.95d)").as("p95"),
        expr("kll_sketch_get_quantile_double(u, 0.0d)").as("p0"),
        expr("kll_sketch_get_quantile_double(u, 1.0d)").as("p100"),
        expr("kll_sketch_get_n_double(u)").as("n"))
      .head()
    // k=200 → ε ≈ 1.65%; bracket at ±3% of the 0..19999 rank space
    assert(math.abs(q.getDouble(0) - 10000.0) <= 600.0, s"p50=${q.getDouble(0)}")
    assert(math.abs(q.getDouble(1) - 19000.0) <= 600.0, s"p95=${q.getDouble(1)}")
    // extremes are EXACT by the KLL contract (min/max always retained)
    assert(q.getDouble(2) === 0.0)
    assert(q.getDouble(3) === 19999.0)
    assert(q.getLong(4) === 20000L) // the merge lost no generation
  }

  test("an all-null group yields a non-null EMPTY sketch; nulls are skipped not counted") {
    // the empty sketch merges as a no-op but has no quantile; o29 never
    // meets it — events.value has no nulls (SketchBoundSpec)
    val df = Seq((1, Some(5.0)), (1, None), (2, None)).toDF("g", "v")
    val sk = df.groupBy($"g").agg(expr("kll_sketch_agg_double(v, 200)").as("sk"))
    val n = sk.select($"g", $"sk".isNull, expr("kll_sketch_get_n_double(sk)"))
      .orderBy($"g").collect().map(r => (r.getInt(0), r.getBoolean(1), r.getLong(2)))
    assert(n.toSeq == Seq((1, false, 1L), (2, false, 0L)))
    val merged = sk.agg(expr("kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5d)"))
      .head().getDouble(0)
    assert(merged === 5.0)
    val err = intercept[Exception] {
      sk.filter($"g" === 2)
        .select(expr("kll_sketch_get_quantile_double(sk, 0.5d)")).collect()
    }
    assert(err.getMessage.contains("KLL_INVALID_INPUT_SKETCH_BUFFER"), err.getMessage)
  }
}
