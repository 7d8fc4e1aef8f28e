package graft.ops

import org.apache.spark.sql.functions._

/** Persisted IVF index: the stored spelling must (1) reproduce the
  * in-flight learned-IVF query exactly, (2) assign appended vectors
  * with the STORED centroids (cell space is index state), and (3) push
  * the probed cell set into the members scan so unprobed cells' row
  * groups are never decoded. */
class IvfIndexSpec extends graft.core.CrashChecks {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("indexed top-k equals the in-flight learned-IVF spelling row for row") {
    val a = graft.queries.Registry.queries("sim_ivf_indexed_topk")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = graft.queries.Registry.queries("sim_ivf_kmeans_topk")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b,
      s"persisted-index probe diverged from the in-flight spelling (${a.size} vs ${b.size} rows)")
  }

  test("append assigns with stored centroids; an appended near-copy is found at rank 1") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    val emb = graft.core.Tables.embeddings(spark, sf)
    IvfIndex.write(emb, dir, k = 4, iters = 1)
    // appended vector = an existing vector exactly → same cell under the
    // STORED centroids, cosine 1 with its twin
    val twinOf = 5L
    val twin = emb.filter($"vec_id" === twinOf)
      .select(lit(900001L).as("vec_id"), $"embedding")
    IvfIndex.append(twin, dir)
    val got = IvfIndex.topk(spark, dir,
        emb.filter($"vec_id" === twinOf).select($"vec_id".as("query_id"), $"embedding"),
        topK = 1, nProbe = 1)
      .collect()
    assert(got.length == 1)
    assert(got(0).getLong(1) == 900001L, s"expected the appended twin, got ${got(0)}")
    assert(math.abs(got(0).getDouble(2) - 1.0) < 1e-9)
    // centroids unchanged by append — k and the quantizer are index state
    assert(IvfIndex.storedK(spark, dir) == 4)
    assert(IvfIndex.readCentroids(spark, dir).length == 4)

    // compaction merges the write+append generations and changes nothing
    def files: Long = {
      val ls = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"${graft.core.Commit.current(spark, dir)}/members"))
      try ls.filter(_.toString.endsWith(".parquet")).count() finally ls.close()
    }
    val before = files
    IvfIndex.compact(spark, dir)
    assert(files < before, s"compaction must merge generations ($before files before)")
    val after = IvfIndex.topk(spark, dir,
        emb.filter($"vec_id" === twinOf).select($"vec_id".as("query_id"), $"embedding"),
        topK = 1, nProbe = 1).collect()
    assert(after.length == 1 && after(0).getLong(1) == 900001L,
      "compaction must not change probe results")
  }

  test("refresh: delta-only indexing equals the stored-centroid assignment, drops vanished, holds recall") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_refresh").toString
    val emb = graft.core.Tables.embeddings(spark, sf)
    val nAll = emb.count()
    val first = emb.filter($"vec_id" % 5 =!= 0)
    val nFirst = first.count()
    // quantizer trained on the FULL corpus; only 4/5 indexed up front
    IvfIndex.write(first, dir, k = 4, iters = 1, fitOn = emb)
    val d1 = IvfIndex.refresh(emb, dir)
    assert(d1.added == nAll - nFirst && d1.kept == nFirst && d1.removed == 0, s"$d1")
    // refresh-equals-rebuild on assignments: every member's cell is
    // exactly the stored-centroid argmin recomputed from scratch
    val cents = IvfIndex.readCentroids(spark, dir)
    val want = emb.select($"vec_id", KMeansVec.cellExpr("embedding", cents).as("cell"))
    val got = spark.read.parquet(IvfIndex.memberPaths(spark, dir): _*).select($"vec_id", $"cell")
    assert(got.count() == nAll)
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
    // idempotence: a second refresh over the same corpus is a no-op
    val d2 = IvfIndex.refresh(emb, dir)
    assert(d2.added == 0 && d2.removed == 0 && d2.kept == nAll, s"$d2")
    // shrink: vanished vectors are dropped via the compact swap and
    // never probed again
    val shrunk = emb.filter($"vec_id" % 7 =!= 0)
    val d3 = IvfIndex.refresh(shrunk, dir)
    assert(d3.removed == nAll - shrunk.count() && d3.added == 0, s"$d3")
    val left = spark.read.parquet(IvfIndex.memberPaths(spark, dir): _*)
    assert(left.count() == shrunk.count())
    assert(left.filter($"vec_id" % 7 === 0).count() == 0)
    // recall-floor re-check after refresh — the acceptance gate a
    // production refresh runs before serving (floor from the measured
    // ~uniform-direction corpus; SimilarityRecallSpec's contract)
    val queries = shrunk.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"embedding")
    val rec = IvfIndex.recallAt(spark, dir, queries, topK = 3, nProbe = 2)
    info(f"post-refresh recall@3 (nProbe=2, k=4) = $rec%.3f")
    assert(rec >= 0.5, f"recall $rec%.3f under floor 0.5 after refresh")
  }

  test("every compaction crash window reads exactly one copy of every member") {
    val template = java.nio.file.Files.createTempDirectory("graft_ivf_crash").toString
    val emb = graft.core.Tables.embeddings(spark, sf)
    IvfIndex.write(emb.filter($"vec_id" < 400), template, k = 4, iters = 1)
    // streaming batch — the kind compact folds in
    IvfIndex.applyAppendBatch(
      emb.filter($"vec_id" >= 400 && $"vec_id" < 450), template, batchId = 0L)
    val want = (0L until 450L)
    val crashed = everyCrash(() => faultyCopy(template))(IvfIndex.compact(spark, _)) { dir =>
      val ids = spark.read.parquet(IvfIndex.memberPaths(spark, dir): _*)
        .select($"vec_id").as[Long].collect().sorted.toSeq
      assert(ids == want, s"a reader saw ${ids.size} member rows, not each of ${want.size} once")
      ids
    }
    info(s"$crashed commit mutations crashed")
  }

  test("probe pushes the cell set into the members scan and decodes only probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_push").toString
    val emb = graft.core.Tables.embeddings(spark, sf)
    // 16 KB row groups: at 500 rows AQE coalesces the range shuffle to
    // one file, so the multi-group shape (the one footer stats prune at
    // production scale) has to come from the block size
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 16 * 1024)
    try IvfIndex.write(emb, dir, k = 4, iters = 1)
    finally {
      if (prevBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prevBlock)
    }
    // in-memory query frame (LocalRelation — contributes no file reads),
    // built BEFORE the listener so the construction-time collects
    // (centroids, probed-cell set) stay out of the measurement: the
    // measured job's only file input is the members scan
    val qvec = emb.filter($"vec_id" === 0L).select($"embedding")
      .head.getSeq[Float](0).toArray
    val q = Seq((0L, qvec)).toDF("query_id", "embedding")
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevBc = spark.conf.get(bcKey)
    spark.conf.set(bcKey, "-1") // broadcast builds read on the driver, uncounted
    try {
      val df = IvfIndex.topk(spark, dir, q, topK = 3, nProbe = 1)
      val plan = df.queryExecution.executedPlan.toString
      // a 1-element probe set optimizes In → EqualTo; both are pushed
      assert(plan.contains("In(cell") || plan.contains("EqualTo(cell"),
        s"probed cell set must reach the parquet scan:\n$plan")
      // decoded-row bound: a 1-cell probe of a k=4 index must decode
      // roughly one cell's worth of members, not the corpus — the other
      // cells' files/row groups are pruned from footer stats
      val rowsRead = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          rowsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }
      val total = emb.count()
      spark.sparkContext.addSparkListener(listener)
      rowsRead.set(0L)
      df.collect()
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      assert(rowsRead.get() < total / 2,
        s"1-cell probe decoded ${rowsRead.get()} rows of a $total-row corpus — no pruning")
    } finally spark.conf.set(bcKey, prevBc)
  }
}
