package graft.streaming

import java.nio.file.Files
import graft.SparkSpec
import graft.ops.IvfIndex
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming IVF-index maintenance: micro-batches of new vectors land
  * as per-batch generations assigned with the STORED quantizer; the
  * streamed index answers probes identically to the batch-append
  * spelling, replay is idempotent per batch id, and compaction folds
  * the generations away. */
class IvfAppendStreamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("streamed generations probe identically to batch append; replay and compaction hold") {
    val emb = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").cache()
    val base = emb.filter($"vec_id" % 2 === 0)
    val late = emb.filter($"vec_id" % 2 =!= 0).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(late.length >= 4, s"need enough held-back vectors, got ${late.length}")
    val (lateA, lateB) = late.splitAt(late.length / 2)

    val streamed = Files.createTempDirectory("graft_ivf_stream").toString
    val batched = Files.createTempDirectory("graft_ivf_batch").toString
    val ckpt = Files.createTempDirectory("graft_ivf_ck").toString
    IvfIndex.write(base, streamed, k = 4, iters = 1)
    IvfIndex.write(base, batched, k = 4, iters = 1)

    // two micro-batches through the stream; one batch append as oracle
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    def newVecs = input.toDF().toDF("vec_id", "embedding")
    input.addData(lateA.toIndexedSeq)
    Streams.ivfAppendStream(newVecs, streamed, ckpt).awaitTermination()
    input.addData(lateB.toIndexedSeq)
    Streams.ivfAppendStream(newVecs, streamed, ckpt).awaitTermination()
    IvfIndex.append(emb.filter($"vec_id" % 2 =!= 0), batched)

    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    def rows(dir: String) =
      IvfIndex.topk(spark, dir, queries, topK = 3, nProbe = 2)
        .orderBy($"query_id", $"rn").collect().map(_.toSeq).toSeq
    val streamedRows = rows(streamed)
    assert(streamedRows.nonEmpty && streamedRows == rows(batched),
      "streamed index diverged from batch append")

    // crash replay: re-applying a generation rewrites its own directory
    def gen0 = spark.read.parquet(s"${graft.core.Commit.current(spark, streamed)}/gens/0")
    val before = gen0.count()
    IvfIndex.applyAppendBatch(
      spark.createDataFrame(lateA.toIndexedSeq).toDF("vec_id", "embedding"),
      streamed, 0L)
    assert(gen0.count() == before,
      "replayed generation must not grow the index")
    assert(rows(streamed) == streamedRows, "replay changed probe results")

    // compaction folds generations into the base members table
    IvfIndex.compact(spark, streamed)
    assert(IvfIndex.memberPaths(spark, streamed).size == 1 &&
      graft.core.Commit.generations(spark, streamed).size == 1,
      "compaction must remove the generation directories")
    assert(rows(streamed) == streamedRows, "compaction changed probe results")
    emb.unpersist()
  }
}
