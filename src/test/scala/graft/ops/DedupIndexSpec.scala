package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted admission index: indexed incremental dedup must (1)
  * produce exactly what the direct corpus-rescanning spelling
  * produces, (2) never scan the corpus text again — the whole point of
  * storing the index — and (3) stay correct across append generations
  * (batch N+1 is rejected by docs admitted in batch N). */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val near = "the quick brown fox jumps over the lazy dog again and again tonight"
  private val other = "completely different words about spark engines and parquet files here"
  private val third = "yet another unrelated document discussing weather stations and sensors"

  private def corpusDocs = Seq(
    (1L, base), (2L, other)).toDF("doc_id", "text")

  private def batchDocs = Seq(
    (10L, base),   // exact dup of corpus 1
    (11L, near),   // near dup of corpus 1
    (12L, third),  // fresh → admitted
    (13L, third),  // exact dup of 12 within the batch → batch_dup
    (14L, null.asInstanceOf[String])) // unknown content → isolated, admitted
    .toDF("doc_id", "text")

  private def collectStatuses(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet

  test("indexed admission equals the corpus-rescanning incremental exactly") {
    val idx = DedupIndex.build(corpusDocs)
    val viaIndex = collectStatuses(DedupDocs.incrementalIndexed(idx, batchDocs))
    val direct = collectStatuses(DedupDocs.incremental(corpusDocs, batchDocs))
    assert(viaIndex == direct)
    assert(viaIndex == Set(
      (10L, "corpus_exact", -1L),
      (11L, "corpus_near", -1L),
      (12L, "admitted", 12L),
      (13L, "batch_dup", 12L),
      (14L, "admitted", 14L)))
  }

  test("the stored index is joined, the corpus text is NEVER re-scanned") {
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_didx_corpus").toString
    val indexDir = java.nio.file.Files.createTempDirectory("graft_didx_index").toString
    corpusDocs.write.mode("overwrite").parquet(corpusDir)
    DedupIndex.write(spark.read.parquet(corpusDir), indexDir)
    // record the files of EVERY query an admission runs: the bounded
    // path returns a local relation decided on the driver, and the
    // distributed plan's output sits behind local checkpoints, so
    // neither result's plan shows what was read
    def scannedBy(admit: DedupIndex.Frames => org.apache.spark.sql.DataFrame) = {
      val files = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.optimizedPlan.foreach {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation match {
                case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  r.location.rootPaths.foreach(p => files.add(p.toString))
                case _ =>
              }
            case _ =>
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      }
      val idx = DedupIndex.read(spark, indexDir)
      spark.listenerManager.register(listener)
      try {
        val out = admit(idx)
        val statuses = collectStatuses(out)
        org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
        (out, statuses, files.toArray.toSeq.map(_.toString))
      } finally spark.listenerManager.unregister(listener)
    }
    // the recorder sees a corpus scan when one happens: the direct
    // spelling re-derives the index from the corpus parquet
    val (_, direct, rescanned) =
      scannedBy(_ => DedupDocs.incremental(spark.read.parquet(corpusDir), batchDocs))
    assert(rescanned.exists(_.contains(corpusDir)), s"corpus scan not recorded: $rescanned")
    for (cap <- Seq(1024, 0)) {
      val (out, statuses, files) =
        scannedBy(DedupDocs.incrementalIndexed(_, batchDocs, maxPushdownKeys = cap))
      // a 5-doc batch takes the bounded driver path unless the cap is 0
      assert(out.isLocal == (cap > 0))
      // every corpus-side input comes from the index tables
      assert(files.exists(_.contains(indexDir)), s"no index scan recorded: $files")
      assert(!files.exists(_.contains(corpusDir)), s"corpus docs re-scanned: $files")
      // and the result still matches the direct spelling
      assert(statuses == direct)
    }
  }

  // the driver decision must replay the distributed plan exactly:
  // statuses, components and the output schema (nullability included)
  private def assertParity(idx: DedupIndex.Frames,
      batch: org.apache.spark.sql.DataFrame,
      minJaccard: Option[Double] = Some(0.5),
      maxVerifyBucket: Int = 32) = {
    val bounded = DedupDocs.incrementalIndexed(idx, batch, minJaccard, maxVerifyBucket)
    val reference = DedupDocs.incrementalIndexed(idx, batch, minJaccard, maxVerifyBucket,
      maxPushdownKeys = 0)
    assert(bounded.isLocal, "the batch must take the bounded driver path")
    assert(!reference.isLocal, "maxPushdownKeys = 0 must run the distributed plan")
    assert(bounded.schema == reference.schema,
      s"schema ${bounded.schema.treeString} vs ${reference.schema.treeString}")
    val got = collectStatuses(bounded)
    assert(got == collectStatuses(reference))
    got
  }

  // A~B and B~C pass a 0.5 trigram-Jaccard floor (0.57, 0.64) and all
  // three share one band bucket; A~C does not (0.38)
  private val chainA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
    "kilo lima mike november oscar papa quebec romeo sierra tango"
  private val chainB = "alpha bravox charlie delta echo foxtrot golf hotel indiax juliet " +
    "kilo lima mike november oscar papa quebec romeo sierra tango"
  private val chainC = "alphay bravox charlie delta echo foxtrot golf hotel indiax juliet " +
    "kilo lima mike november oscar papa quebec romeoy sierra tango"

  test("bounded batch equals the distributed plan: existing fixtures") {
    val idx = DedupIndex.build(corpusDocs)
    // doc 10 is both an exact and a near duplicate of corpus doc 1:
    // corpus_exact wins
    assert(assertParity(idx, batchDocs) == Set(
      (10L, "corpus_exact", -1L), (11L, "corpus_near", -1L),
      (12L, "admitted", 12L), (13L, "batch_dup", 12L), (14L, "admitted", 14L)))
    assertParity(idx, batchDocs, minJaccard = Some(0.9))
    assertParity(idx, batchDocs, minJaccard = None)
  }

  test("bounded batch equals the distributed plan: null text and docs under 3 words") {
    val idx = DedupIndex.build(corpusDocs.unionByName(
      Seq((3L, "short text")).toDF("doc_id", "text")))
    // Option ids: a nullable doc_id column, which the output keeps
    val batch = Seq[(Option[Long], String)](
      (Some(50L), null), (Some(51L), null),
      (Some(52L), "short text"), // no signature, no grams: exact dup of corpus 3
      (Some(53L), "two words"), (Some(54L), "two words"), // exact dups of each other
      (Some(55L), ""), (Some(56L), third))
      .toDF("doc_id", "text")
    assert(batch.schema("doc_id").nullable)
    assert(assertParity(idx, batch) == Set(
      (50L, "admitted", 50L), (51L, "admitted", 51L), (52L, "corpus_exact", -1L),
      (53L, "admitted", 53L), (54L, "batch_dup", 53L), (55L, "admitted", 55L),
      (56L, "admitted", 56L)))
  }

  test("bounded batch equals the distributed plan: within-batch transitive chain") {
    val idx = DedupIndex.build(corpusDocs)
    val batch = Seq((42L, chainC), (41L, chainB), (40L, chainA), (43L, third))
      .toDF("doc_id", "text")
    // A~B, B~C verified, A~C rejected: still one component, min id
    assert(assertParity(idx, batch) == Set(
      (40L, "admitted", 40L), (41L, "batch_dup", 40L), (42L, "batch_dup", 40L),
      (43L, "admitted", 43L)))
    // a 0.6 floor breaks A~B (0.57) but keeps B~C (0.64)
    assert(assertParity(idx, batch, minJaccard = Some(0.6)) == Set(
      (40L, "admitted", 40L), (41L, "admitted", 41L), (42L, "batch_dup", 41L),
      (43L, "admitted", 43L)))
    // the 3-doc bucket over maxVerifyBucket = 2 is a mega bucket:
    // unverified star edges merge all three even under a strict floor
    assert(assertParity(idx, batch, minJaccard = Some(0.9), maxVerifyBucket = 2) == Set(
      (40L, "admitted", 40L), (41L, "batch_dup", 40L), (42L, "batch_dup", 40L),
      (43L, "admitted", 43L)))
  }

  test("bounded batch equals the distributed plan: mega buckets on either side") {
    // batch side: three copies of `near` share corpus doc 1's bucket,
    // over maxVerifyBucket = 2 — rejected unverified under a 0.9 floor
    // that the 0.83-Jaccard pair would fail
    val batch = Seq((30L, near), (31L, near), (32L, near), (33L, third))
      .toDF("doc_id", "text")
    assert(assertParity(DedupIndex.build(corpusDocs), batch,
      minJaccard = Some(0.9), maxVerifyBucket = 2) == Set(
      (30L, "corpus_near", -1L), (31L, "corpus_near", -1L), (32L, "corpus_near", -1L),
      (33L, "admitted", 33L)))
    // corpus side: three corpus copies of `base` put one near-variant
    // batch doc into a mega bucket; under maxVerifyBucket = 3 the same
    // doc is verified and admitted by the 0.9 floor
    val corpus = Seq((1L, base), (4L, base), (5L, base), (2L, other)).toDF("doc_id", "text")
    val one = Seq((11L, near)).toDF("doc_id", "text")
    assert(assertParity(DedupIndex.build(corpus), one,
      minJaccard = Some(0.9), maxVerifyBucket = 2) == Set((11L, "corpus_near", -1L)))
    assert(assertParity(DedupIndex.build(corpus), one,
      minJaccard = Some(0.9), maxVerifyBucket = 3) == Set((11L, "admitted", 11L)))
  }

  test("a bounded admission runs a fixed handful of Spark jobs") {
    // the distributed plan runs ~85 jobs on a small batch, most of them
    // one AQE shuffle stage each; the driver decision collects the
    // batch, its grams and three index lookups
    val indexDir = java.nio.file.Files.createTempDirectory("graft_didx_jobs").toString
    DedupIndex.write(corpusDocs, indexDir)
    val idx = DedupIndex.read(spark, indexDir)
    val (out, jobs) = jobsOf(collectStatuses(DedupDocs.incrementalIndexed(idx, batchDocs)))
    assert(out.size == 5)
    assert(jobs.size <= 15, s"bounded admission ran ${jobs.size} Spark jobs")
  }

  test("the index commit adds no Spark job: write, read and append stay at their budgets") {
    // budgets are the counts on this fixture before the tables moved
    // into generations: the commit is driver-side metadata only
    val indexDir = java.nio.file.Files.createTempDirectory("graft_didx_budget").toString
    val (_, writeJobs) = jobsOf(DedupIndex.write(corpusDocs, indexDir))
    val (_, readJobs) = jobsOf(DedupIndex.read(spark, indexDir))
    val (_, appendJobs) = jobsOf(
      DedupIndex.append(Seq((12L, third)).toDF("doc_id", "text"), indexDir))
    info(s"jobs: write ${writeJobs.size}, read ${readJobs.size}, append ${appendJobs.size}")
    assert(writeJobs.size <= 15, s"DedupIndex.write ran ${writeJobs.size} Spark jobs")
    assert(readJobs.size <= 5, s"DedupIndex.read ran ${readJobs.size} Spark jobs")
    assert(appendJobs.size <= 15, s"DedupIndex.append ran ${appendJobs.size} Spark jobs")
  }

  test("banding parameter is index state: a non-default write still band-matches probes") {
    // rowsPerBand=2 → 4 bands of 2: written to dir/meta and picked up by
    // read() and append(), so the probe hashes batch bands identically —
    // a mismatch would make the bucket value spaces disjoint and
    // silently admit every near-duplicate
    val indexDir = java.nio.file.Files.createTempDirectory("graft_didx_rpb").toString
    DedupIndex.write(corpusDocs, indexDir, rowsPerBand = 2)
    val idx = DedupIndex.read(spark, indexDir)
    assert(idx.rowsPerBand == 2)
    val out = collectStatuses(DedupDocs.incrementalIndexed(idx,
      Seq((11L, near)).toDF("doc_id", "text")))
    assert(out == Set((11L, "corpus_near", -1L)),
      "near-dup must still be caught under the stored non-default banding")
  }

  test("compaction merges append generations; admission results are unchanged") {
    val indexDir = java.nio.file.Files.createTempDirectory("graft_didx_cp").toString
    DedupIndex.write(corpusDocs, indexDir)
    DedupIndex.append(Seq((12L, third)).toDF("doc_id", "text"), indexDir)
    def admitted = collectStatuses(
      DedupDocs.incrementalIndexed(DedupIndex.read(spark, indexDir),
        Seq((20L, third), (22L, base + " extra")).toDF("doc_id", "text")))
    val before = admitted
    def dataFiles(t: String): Long =
      java.nio.file.Files.list(
          java.nio.file.Paths.get(s"${graft.core.Commit.current(spark, indexDir)}/$t"))
        .filter(p => p.toString.endsWith(".parquet")).count()
    val filesBefore = dataFiles("fps")
    DedupIndex.compact(spark, indexDir)
    assert(dataFiles("fps") < filesBefore,
      "compaction must merge the write+append generations into fewer files")
    assert(DedupIndex.read(spark, indexDir).rowsPerBand == 4)
    assert(admitted == before, "compaction must not change admission results")
  }

  test("append generation: docs admitted in batch N reject their dups in batch N+1") {
    val indexDir = java.nio.file.Files.createTempDirectory("graft_didx_gen").toString
    // corpus does NOT contain `base`, so batch 1 admits it; batch 2's
    // exact copy and near variant must then be rejected by the APPENDED
    // index rows, not by anything from the original corpus
    DedupIndex.write(Seq((2L, other)).toDF("doc_id", "text"), indexDir)

    val batch1 = Seq((10L, third), (12L, base),
      (14L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val admitted1 = batch1.join(
      DedupDocs.incrementalIndexed(DedupIndex.read(spark, indexDir), batch1)
        .filter($"status" === "admitted").select($"doc_id"), "doc_id")
    assert(admitted1.count() == 3) // all distinct → all admitted
    DedupIndex.append(admitted1, indexDir)

    val batch2 = Seq(
      (20L, base), // exact dup of appended 12
      (21L, near), // near dup of appended 12 (Jaccard 0.83, shared band)
      (22L, "entirely novel content that matches nothing else in any corpus batch"))
      .toDF("doc_id", "text")
    val out = collectStatuses(
      DedupDocs.incrementalIndexed(DedupIndex.read(spark, indexDir), batch2))
    assert(out == Set(
      (20L, "corpus_exact", -1L),
      (21L, "corpus_near", -1L),
      (22L, "admitted", 22L)))
    // null-text docs index nothing: doc 14 contributed no fp/band/gram rows
    assert(DedupIndex.read(spark, indexDir).fps
      .filter($"doc_id" === 14L).count() == 0)
  }
}
