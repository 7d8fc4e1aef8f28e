package graft.ops

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Pins the incremental-index contract: build-on-half + refresh-with-
  * rest scores BIT-IDENTICALLY to a from-scratch rebuild over the full
  * corpus (equality, not closeness — the additive df/Σdl merge is
  * exact), including through the legacy 2-column stats layout, and the
  * refreshed index still answers through `term IN (...)` pushdown. */
class SearchIndexRefreshSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val terms = Seq("spark", "window", "dup")

  private def results(dir: String): Seq[(Long, Double, Int)] =
    SearchIndex.search(spark, dir, terms, k = 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq

  test("refresh(rest) == rebuild(full), bit-identical scores") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val half = docs.filter($"doc_id" % 2 === 0)
    val rest = docs.filter($"doc_id" % 2 =!= 0)

    val d = java.nio.file.Files.createTempDirectory("sidx").toString
    SearchIndex.build(half, s"$d/inc")
    val rep = SearchIndexRefresh.refresh(rest, s"$d/inc")
    assert(rep.docsAdded == rest.count() && rep.postingsAdded > 0)

    SearchIndex.build(docs, s"$d/full")
    val got = results(s"$d/inc")
    val want = results(s"$d/full")
    assert(got == want, s"refreshed index diverged:\n$got\nvs\n$want")

    // merged corpus stats are exactly the full-build stats
    def stats(dir: String) =
      spark.read.parquet(s"${graft.core.Commit.current(spark, dir)}/stats").collect()(0)
    val si = stats(s"$d/inc")
    val sf2 = stats(s"$d/full")
    assert(si.getDouble(si.fieldIndex("n")) == sf2.getDouble(sf2.fieldIndex("n")))
    assert(si.getDouble(si.fieldIndex("sum_dl")) == sf2.getDouble(sf2.fieldIndex("sum_dl")))
    assert(si.getDouble(si.fieldIndex("avgdl")) == sf2.getDouble(sf2.fieldIndex("avgdl")))
  }

  test("legacy 2-column stats: refresh reconstructs the exact sum from n·avgdl") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val half = docs.filter($"doc_id" % 2 === 0)
    val rest = docs.filter($"doc_id" % 2 =!= 0)
    val d = java.nio.file.Files.createTempDirectory("sidx_legacy").toString
    SearchIndex.build(half, s"$d/inc")
    // strip sum_dl to simulate an index built before the column existed
    val live = graft.core.Commit.current(spark, s"$d/inc")
    val legacy = spark.read.parquet(s"$live/stats").select("n", "avgdl").collect()(0)
    spark.range(1)
      .select(lit(legacy.getDouble(0)).as("n"), lit(legacy.getDouble(1)).as("avgdl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$live/stats2")
    val fs = new org.apache.hadoop.fs.Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$live/stats"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$live/stats2"),
      new org.apache.hadoop.fs.Path(s"$live/stats"))

    SearchIndexRefresh.refresh(rest, s"$d/inc")
    SearchIndex.build(docs, s"$d/full")
    assert(results(s"$d/inc") == results(s"$d/full"))
  }

  test("refreshed index still prunes: the query pushes term IN into the postings scan") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val d = java.nio.file.Files.createTempDirectory("sidx_plan").toString
    SearchIndex.build(docs.filter($"doc_id" % 2 === 0), s"$d/idx")
    SearchIndexRefresh.refresh(docs.filter($"doc_id" % 2 =!= 0), s"$d/idx")
    val p = SearchIndex.search(spark, s"$d/idx", terms)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("In(term"),
      s"term pushdown lost after refresh:\n$p")
  }
}
