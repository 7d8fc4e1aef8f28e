package perfbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}

import graft.ops.{DedupDocs, DedupIndex}

/** LLM-corpus curation. A pass dedups a seeded corpus (`DedupDocs`),
  * stores the admission index over the survivors (`DedupIndex.write`) and
  * then admits batches in order (fresh docs mixed with re-crawled exact
  * and near copies) through `incrementalIndexed` and `append`; the index
  * grows with every batch, as in a crawl. Set-up warms the path with one
  * pass that admits a single batch; the timed pass admits two. The
  * operation is one admission batch. */
object CurationDedup extends Workload {
  // a pass admits two batches: no percentile below the maximum has ten
  // samples beyond it
  val opName = "curation.pass"
  val tailPercentile = 1.0
  val minPasses = 1
  private val timedBatches = 2

  private def docs(ctx: Ctx, file: String): DataFrame =
    ctx.spark.read.option("sep", "\t").schema("doc_id LONG, text STRING")
      .csv(ctx.data.resolve(file).toString)

  private def indexDir(ctx: Ctx) = ctx.work.resolve("index").toString
  private def batches(ctx: Ctx) = ctx.manifest.get("batches").asScala.toSeq

  def prepare(ctx: Ctx): Unit = pass(ctx, 1)

  def run(ctx: Ctx, seconds: Double, minPasses: Int): Timed = {
    val lat = Seq.newBuilder[Double]
    val stored = Seq.newBuilder[Double]
    val passS = Stats.repeatFor(seconds, minPasses) { _ =>
      val t0 = System.nanoTime()
      lat ++= pass(ctx, timedBatches)
      val s = Stats.since(t0)
      stored += (Stats.dirBytes(ctx.work.resolve("groups")) +
        Stats.dirBytes(Path.of(indexDir(ctx)))).toDouble
      s
    }
    // corpus docs deduped plus batch docs admitted, per second of pass
    val items = ctx.manifest.get("corpus_docs").asDouble +
      timedBatches * ctx.manifest.get("batch_docs").asDouble
    Timed(lat.result(), passS, items, Stats.median(passS), Stats.median(stored.result()))
  }

  /** Dedup the corpus, store the index over the survivors and admit the
    * first `n` batches; returns each admission's latency in ms. */
  private def pass(ctx: Ctx, n: Int): Seq[Double] = ctx.tracer.span(opName) {
    ctx.guarded("curation corpus")(buildIndex(ctx))
    val lat = batches(ctx).take(n).map(b => admit(ctx, b))
    ctx.tracer.count("spark.cached_mb", Stats.cachedMb(ctx.spark))
    lat
  }

  private def buildIndex(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val spark = ctx.spark
    graft.functions.GraftFunctions.register(spark)
    val corpus = docs(ctx, "corpus.tsv")
    val groupsDir = ctx.freshDir("groups").toString
    ctx.freshDir("index")
    val scanNs = t.prefix(corpus)
    t.materialize("functions.minhash_sig", corpus.select(expr("minhash_sig(text)")), scanNs)
    t.span("ops.dedup_docs")(DedupDocs(corpus).write.mode("overwrite").parquet(groupsDir))
    val groups = spark.read.parquet(groupsDir)
    t.span("ops.dedup_index.write") {
      DedupIndex.write(corpus.join(groups.filter(col("is_survivor")).select("doc_id"), "doc_id"),
        indexDir(ctx))
    }
    t.count("ops.dedup_index.mb", Stats.dirBytes(Path.of(indexDir(ctx))) / 1048576.0)
    checkCorpus(ctx, groups)
  }

  /** Admit one batch against the stored index and append its admitted
    * docs; returns the latency in ms. */
  private def admit(ctx: Ctx, b: com.fasterxml.jackson.databind.JsonNode): Double = {
    val t = ctx.tracer
    val spark = ctx.spark
    val file = b.get("file").asText
    val t0 = System.nanoTime()
    ctx.guarded(s"admit $file") {
      t.span("curation.admit") {
        val batch = docs(ctx, file)
        t.count("ops.incremental_indexed.index_mb",
          Stats.dirBytes(Path.of(indexDir(ctx))) / 1048576.0)
        val statuses = t.span("ops.incremental_indexed") {
          DedupDocs.incrementalIndexed(DedupIndex.read(spark, indexDir(ctx)), batch)
            .select("doc_id", "status").collect()
            .map(r => r.getLong(0) -> r.getString(1)).toMap
        }
        val admitted = statuses.collect { case (id, "admitted") => id }.toSeq
        t.span("ops.dedup_index.append") {
          DedupIndex.append(batch.filter(col("doc_id").isin(admitted: _*)), indexDir(ctx))
        }
        checkBatch(ctx, file,
          b.get("expect").asScala.map(e => e.get(0).asLong -> e.get(1).asText).toMap, statuses)
      }
    }
    (System.nanoTime() - t0) / 1e6
  }

  /** Every planted exact copy is rejected and no planted-unique doc is;
    * near-duplicate recall is recorded. */
  private def checkCorpus(ctx: Ctx, groups: DataFrame): Unit = {
    val m = ctx.manifest
    val survivor = groups.select("doc_id", "is_survivor").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val unique = m.get("unique_docs").asLong
    val exact = m.get("exact_copies").asScala.map(_.asLong).toSeq
    val near = m.get("near_copies").asScala.map(_.asLong).toSeq
    ctx.check(survivor.size == m.get("corpus_docs").asInt,
      s"dedup returned ${survivor.size} docs")
    val keptCopies = exact.filter(id => survivor.getOrElse(id, true))
    ctx.check(keptCopies.isEmpty, s"planted exact copies kept: ${keptCopies.take(5)}")
    val lostUnique = (0L until unique).filterNot(id => survivor.getOrElse(id, false))
    ctx.check(lostUnique.isEmpty, s"planted-unique docs rejected: ${lostUnique.take(5)}")
    ctx.notes("corpus_near_dup_recall") =
      f"${near.count(id => !survivor.getOrElse(id, true)).toDouble / near.size}%.3f"
  }

  /** Re-crawled exact copies are rejected as corpus_exact, fresh docs are
    * admitted and in-batch copies lose to their original; near-copy
    * recall is recorded. */
  private def checkBatch(ctx: Ctx, file: String, expect: Map[Long, String],
      got: Map[Long, String]): Unit = {
    val wrong = expect.toSeq.filter { case (id, want) =>
      want != "corpus_near" && !got.get(id).contains(want)
    }
    ctx.check(got.size == expect.size && wrong.isEmpty,
      s"$file: ${wrong.size} wrong statuses, e.g. ${wrong.take(3).map { case (id, w) => (id, w, got.get(id)) }}")
    val near = expect.collect { case (id, "corpus_near") => id }
    ctx.notes(s"batch_near_dup_recall.$file") =
      f"${near.count(id => got.get(id).contains("corpus_near")).toDouble / near.size}%.3f"
  }
}
