package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins for the persisted inverted index: the indexed BM25 path must
  * equal the in-flight query row-for-row, the query's term predicate
  * must reach the postings parquet scan (the O(query-terms) read), and
  * the index must serve queries the build never saw coming. */
class SearchIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("indexed BM25 equals the in-flight query row-for-row") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidx").toString
    SearchIndex.build(graft.core.Tables.documents(spark, sf), dir)
    val indexed = SearchIndex.search(spark, dir, Seq("spark", "window", "dup"))
      .collect().toSeq
    val inflight = graft.queries.Registry.queries("text_bm25_search")(spark, sf)
      .collect().toSeq
    assert(indexed == inflight, s"indexed=$indexed inflight=$inflight")
  }

  test("query terms push into the postings scan; unseen terms return empty, not error") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidx2").toString
    SearchIndex.build(graft.core.Tables.documents(spark, sf), dir)
    val q = SearchIndex.search(spark, dir, Seq("spark", "window"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("In(term, [spark,window])") ||
      plan.contains("In(term, [window,spark])"),
      s"term predicate must reach the postings parquet reader:\n$plan")
    // a term absent from the corpus: empty result (df row missing → no
    // postings join), never a crash or a null score
    assert(SearchIndex.search(spark, dir, Seq("zzzznotaword")).count() == 0)
    // df consistency: df <= n for every indexed term
    val live = graft.core.Commit.current(spark, dir)
    val stats = spark.read.parquet(s"$live/stats").collect()(0)
    val n = stats.getDouble(0)
    val maxDf = spark.read.parquet(s"$live/terms").agg(max(col("df")))
      .collect()(0).getDouble(0)
    assert(maxDf <= n)
  }
}
