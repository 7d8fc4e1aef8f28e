package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ops/Selection: exact k-th smallest by histogram descent — pinned
  * against a literal sort of the same data, including the shapes that
  * break naive binning (duplicates, skew, all-equal, boundary ks). */
class SelectionSpec extends SparkSpec {
  import spark.implicits._

  private def checkAll(values: Seq[Double], ks: Seq[Long],
      collectThreshold: Long = 8): Unit = {
    val df = values.toDF("v")
    val sorted = values.sorted
    ks.foreach { k =>
      val got = Selection.kthSmallest(df, "v", k, fanout = 16,
        collectThreshold = collectThreshold)
      assert(got == sorted((k - 1).toInt), s"k=$k: got $got, want ${sorted((k - 1).toInt)}")
    }
  }

  test("matches a literal sort on uniform data, every k") {
    val values = (1 to 200).map(i => (i * 37 % 200) + 0.25)
    checkAll(values, Seq(1L, 2L, 50L, 100L, 101L, 199L, 200L))
  }

  test("heavy duplicates and skew (half the mass on one value)") {
    val values = Seq.fill(500)(42.0) ++ (1 to 500).map(_ * 1e6)
    checkAll(values, Seq(1L, 250L, 500L, 501L, 750L, 1000L))
  }

  test("all-equal column short-circuits") {
    checkAll(Seq.fill(100)(7.5), Seq(1L, 50L, 100L))
  }

  test("adversarial ulp cluster falls back exactly (maxPasses)") {
    // values within a few ulps of 1.0 — equal-width bins cannot split
    // them past double resolution; the maxPasses fallback must still be
    // exact via the distributed top-k remainder
    val base = 1.0
    val values = (0 until 64).map(i => (0 until i).foldLeft(base)((v, _) => Math.nextAfter(v, 2.0)))
    checkAll(values, Seq(1L, 32L, 64L), collectThreshold = 4)
  }

  test("nulls ignored; k bounds enforced") {
    val df = Seq[Option[Double]](Some(3.0), None, Some(1.0), Some(2.0)).toDF("v")
    assert(Selection.kthSmallest(df, "v", 3) == 3.0)
    intercept[IllegalArgumentException](Selection.kthSmallest(df, "v", 4))
    intercept[IllegalArgumentException](Selection.kthSmallest(df, "v", 0))
  }

  test("quantilesDisc: k = ceil(q*n), q=1 is the max") {
    val values = (1 to 101).map(_.toDouble)
    val df = values.toDF("v")
    val Seq(p50, p99, p100) = Selection.quantilesDisc(df, "v", Seq(0.5, 0.99, 1.0))
    assert(p50 == math.ceil(0.5 * 101)) // k=51 → value 51
    assert(p99 == math.ceil(0.99 * 101)) // k=100
    assert(p100 == 101.0)
  }

  test("descent shrinks candidates without moving data rows: job count stays O(passes)") {
    // 100k rows, threshold 1k → expect ~2 histogram passes + remainder;
    // pin that the whole selection runs in < 8 Spark jobs (a sort-based
    // spelling would be fine too, but this guards accidental O(n) loops)
    val df = spark.range(100000).select((pmod(col("id") * 2654435761L, lit(1000003L))).cast("double").as("v"))
    val (got, jobs) = jobsOf(Selection.kthSmallest(df, "v", 50000, collectThreshold = 1000))
    assert(jobs.size <= 8, s"selection used ${jobs.size} jobs")
    // cross-check against a direct sort of the same frame
    val want = df.orderBy(col("v")).limit(50000).orderBy(col("v").desc).limit(1)
      .collect()(0).getDouble(0)
    assert(got == want)
  }
}
