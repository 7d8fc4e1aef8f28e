package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index for BM25 retrieval — the text twin of the
  * persisted ANN index (ops/IvfIndex) and the dedup admission index
  * (ops/DedupIndex): build once, then every query reads O(query terms)
  * of the index, never the corpus.
  *
  * Layout (all parquet):
  *   postings/ — (term, doc_id, tf, dl), range-partitioned and sorted
  *     BY TERM so a query's `term IN (...)` literal pushdown prunes to
  *     the handful of files/row groups holding those postings — the
  *     sorted-layout discipline Sinks.writeSortedBy pins;
  *   terms/    — (term, df), same sorted layout;
  *   stats/    — 1 row (n, avgdl, sum_dl).
  * terms/ and stats/ are one generation of `dir` ([[graft.core.Commit]]);
  * append-only postings/ stays at the top of `dir`.
  * Document length is DENORMALIZED into the postings row (classic
  * search-index design): scoring never joins a doc-grain table, so a
  * query's work is bounded by posting-list length alone.
  *
  * Scoring spells the exact same Okapi BM25 text as the in-flight
  * `text_bm25_search` query — identical IEEE arithmetic, so the
  * indexed path hash-matches the in-flight oracle verbatim.
  */
object SearchIndex {

  def build(docs: DataFrame, dir: String): Unit = {
    val base = docs.select(col("doc_id"), col("text"),
      size(split(col("text"), " ")).cast("double").as("dl"))
    val postings = base
      .select(col("doc_id"), col("dl"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
    graft.sources.Sinks.writeSortedBy(postings, s"$dir/postings", Seq("term"))
    graft.core.Commit.newGeneration(docs.sparkSession, dir) { gen =>
      graft.sources.Sinks.writeSortedBy(
        postings.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df")),
        s"$gen/terms", Seq("term"))
      // sum_dl rides along for SearchIndexRefresh: dl is integer-valued,
      // so the sum is exact in double and additive across append batches
      base.agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"),
          sum(col("dl")).as("sum_dl"))
        .write.mode("overwrite").parquet(s"$gen/stats")
    }
  }

  /** One micro-batch of the STREAMING index maintenance path
    * ([[graft.streaming.Streams.searchIndexStream]]): the batch's
    * postings, term df's and corpus stats are each written to the
    * batch's OWN `gen=<batchId>` directory — derived from the batch
    * alone, so replay of a batchId overwrites only its own generation
    * (idempotent, the ivfAppendStream discipline; no terms/stats
    * rewrite races because nothing shared is rewritten). [[search]]
    * aggregates across generations: df and (n, Σdl) are ADDITIVE, so
    * a query sums |generations| rows per term — metadata-sized — and
    * the index stays serveable mid-ingest. Offline compaction =
    * [[build]] over the full corpus (generations collapse to one). */
  def applyGenBatch(batch: DataFrame, dir: String, batchId: Long): Unit = {
    val base = batch.select(col("doc_id"), col("text"),
      size(split(col("text"), " ")).cast("double").as("dl"))
    val postings = base
      .select(col("doc_id"), col("dl"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
    graft.sources.Sinks.writeSortedBy(
      postings, s"$dir/postings/gen=$batchId", Seq("term"))
    graft.sources.Sinks.writeSortedBy(
      postings.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df")),
      s"$dir/terms/gen=$batchId", Seq("term"))
    base.agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"),
        sum(col("dl")).as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats/gen=$batchId")
  }

  /** Top-k BM25 over the persisted index. The postings and term scans
    * carry `term IN (...)` into the parquet reader (PushedFilters — the
    * SearchIndexSpec plan pin), so a 3-term query against a 100 TB
    * corpus reads 3 posting lists, not the corpus. Generation-aware:
    * a streamed layout (`gen=` subdirs from [[applyGenBatch]]) reads
    * identically — df re-aggregates per term and the corpus stats sum
    * across generations (both additive; Σdl is exact in double, so a
    * generational index scores bit-identically to a one-shot build). */
  def search(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "search needs at least one term")
    val postings = spark.read.parquet(s"$dir/postings")
      .filter(col("term").isin(terms: _*))
      .select("term", "doc_id", "dl", "tf")
    val live = graft.core.Commit.current(spark, dir)
    val df = spark.read.parquet(s"$live/terms")
      .filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val statRows = spark.read.parquet(s"$live/stats")
    // legacy single-row stats may predate sum_dl; reconstruct the exact
    // integer-valued sum from n·avgdl (half-even round restores it)
    val withSum =
      if (statRows.columns.contains("sum_dl")) statRows
      else statRows.withColumn("sum_dl", rint(col("n") * col("avgdl")))
    val stats = withSum
      .agg(sum(col("n")).as("n"), sum(col("sum_dl")).as("sum_dl"))
      .withColumn("avgdl", col("sum_dl") / col("n"))
    postings.join(broadcast(df), "term").crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("ts",
        col("idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("ts")), 4).as("score"),
        count(lit(1)).cast("int").as("matched_terms"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("score"), col("matched_terms"))
  }
}
