package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Spark's theta set-operation built-ins, on the contract
  * `o30_theta_audience_overlap` relies on: EXACT below the nominal
  * threshold (the property the o30 gate leans on at small sf), correct
  * set algebra through the parquet-stored path, bounded estimation
  * past the threshold. */
class ThetaSketchSpec extends SparkSpec {
  import spark.implicits._

  test("exact mode: intersection and difference are exact set algebra through storage") {
    // A = [0, 600), B = [400, 1000): |A∩B| = 200, |A∖B| = 400 — all
    // below 2^12 nominal entries, so theta is in exact mode
    val df = ((0L until 600L).map(("A", _)) ++ (400L until 1000L).map(("B", _)))
      .toDF("seg", "u")
    val dir = java.nio.file.Files.createTempDirectory("theta_tbl").toString
    df.groupBy($"seg").agg(expr("theta_sketch_agg(u, 12)").as("sk"))
      .write.mode("overwrite").parquet(s"$dir/t")
    val sk = spark.read.parquet(s"$dir/t")
    val r = sk.as("a").crossJoin(sk.as("b"))
      .filter(col("a.seg") === "A" && col("b.seg") === "B")
      .select(
        expr("theta_sketch_estimate(a.sk)").as("na"),
        expr("theta_sketch_estimate(theta_intersection(a.sk, b.sk))").as("inter"),
        expr("theta_sketch_estimate(theta_difference(a.sk, b.sk))").as("diff"))
      .head()
    assert(r.getLong(0) === 600L)
    assert(r.getLong(1) === 200L)
    assert(r.getLong(2) === 400L)
  }

  test("stored-generation union ≡ one-shot sketch in exact mode; estimation bounded past it") {
    val df = (0L until 2000L).map(u => (u % 4, u)).toDF("g", "u")
    val parts = df.groupBy($"g").agg(expr("theta_sketch_agg(u, 12)").as("sk"))
    val dir = java.nio.file.Files.createTempDirectory("theta_gen").toString
    parts.filter($"g" < 2).write.mode("overwrite").parquet(s"$dir/t")
    parts.filter($"g" >= 2).write.mode("append").parquet(s"$dir/t")
    val merged = spark.read.parquet(s"$dir/t")
      .agg(expr("theta_sketch_estimate(theta_union_agg(sk, 12))")).head().getLong(0)
    assert(merged === 2000L) // exact mode: the union is the exact set
    // estimation mode: 60k uniques through lgK=10 (1024 nominal)
    val big = (0L until 60000L).toDF("u")
      .agg(expr("theta_sketch_estimate(theta_sketch_agg(u, 10))")).head().getLong(0)
    assert(math.abs(big - 60000.0) <= 60000.0 * 0.10, s"estimate $big")
  }
}
