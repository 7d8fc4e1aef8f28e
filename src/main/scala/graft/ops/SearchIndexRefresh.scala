package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance for the persisted BM25 index
  * ([[SearchIndex]]) — the text twin of `IvfIndex.refresh`: production
  * corpora APPEND, and a full rebuild re-tokenizes 100 TB to admit a
  * day's worth of documents.
  *
  * What each index component needs on append:
  *   - postings/ — new documents touch only THEIR OWN rows: the batch's
  *     postings are appended as additional term-sorted files (the same
  *     `term IN (...)` file/row-group pruning holds per file — a query
  *     reads its terms' row groups from base and delta files alike);
  *   - terms/    — df is additive: merged df = stored df + batch df,
  *     one vocabulary-grain aggregate (never the corpus);
  *   - stats/    — n and Σdl are additive; avgdl is recomputed from the
  *     merged Σdl/n. Document lengths are integer-valued, so the sums
  *     are EXACT in double regardless of accumulation order — a
  *     refreshed index scores BIT-IDENTICALLY to a from-scratch
  *     rebuild (SearchIndexRefreshSpec pins equality, not closeness).
  *
  * terms/ and stats/ commit as one generation ([[graft.core.Commit]]),
  * so a reader's df and n come from the same refresh. The postings
  * append lands before that commit and is not part of it: a crash
  * between the two leaves postings df and n do not count, and a retry
  * appends them again.
  *
  * Contract: `newDocs` doc_ids must be NEW (the dedup admission index
  * is the upstream gate); re-ingesting an existing doc_id would
  * double-count its postings, exactly as in any postings-append index.
  */
object SearchIndexRefresh {

  final case class RefreshReport(docsAdded: Long, postingsAdded: Long)

  def refresh(newDocs: DataFrame, dir: String): RefreshReport = {
    val spark = newDocs.sparkSession
    val live = graft.core.Commit.current(spark, dir)
    val base = newDocs.select(col("doc_id"), col("text"),
      size(split(col("text"), " ")).cast("double").as("dl"))
    val postings = base
      .select(col("doc_id"), col("dl"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .persist()
    try {
      val nPostings = postings.count() // materialize before the appends read it twice

      // postings: append the batch's own rows as new term-sorted files
      graft.sources.Sinks.writeSortedBy(postings, s"$dir/postings", Seq("term"),
        mode = org.apache.spark.sql.SaveMode.Append)

      // terms: additive df merge at vocabulary grain
      val batchTerms = postings.groupBy(col("term"))
        .agg(count(lit(1)).cast("double").as("df"))
      val mergedTerms = spark.read.parquet(s"$live/terms")
        .unionByName(batchTerms)
        .groupBy(col("term")).agg(sum(col("df")).as("df"))

      // stats: additive n and Σdl; Σdl is recovered exactly — from the
      // stored sum when present, else from n·avgdl (legacy 2-column
      // stats, where avgdl = Σdl/n was computed from integer-valued dl,
      // so the product reconstructs the integer sum exactly after a
      // half-even round)
      val old = spark.read.parquet(s"$live/stats").collect()(0)
      val oldN = old.getDouble(old.fieldIndex("n"))
      val oldSum =
        if (old.schema.fieldNames.contains("sum_dl"))
          old.getDouble(old.fieldIndex("sum_dl"))
        else math.rint(oldN * old.getDouble(old.fieldIndex("avgdl")))
      val b = base.agg(count(lit(1)).cast("double").as("bn"),
        sum(col("dl")).as("bsum")).collect()(0)
      val (bn, bsum) = (b.getDouble(0), b.getDouble(1))
      val n = oldN + bn
      val sumDl = oldSum + bsum
      graft.core.Commit.newGeneration(spark, dir) { gen =>
        graft.sources.Sinks.writeSortedBy(mergedTerms, s"$gen/terms", Seq("term"))
        spark.range(1).select(
            lit(n).as("n"), lit(sumDl / n).as("avgdl"), lit(sumDl).as("sum_dl"))
          .coalesce(1).write.mode("overwrite").parquet(s"$gen/stats")
      }
      RefreshReport(bn.toLong, nPostings)
    } finally postings.unpersist()
  }
}
