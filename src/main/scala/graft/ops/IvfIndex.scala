package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Commit, IndexMeta}

/** Persisted IVF (inverted-file) ANN index — the similarity-search
  * sibling of [[DedupIndex]]: the write-once derivable columns of an
  * embedding corpus stored AT INDEX TIME so that every later query
  * batch probes precomputed state instead of re-assigning (or worse,
  * re-fitting) the corpus:
  *
  *   centroids  (cell, emb)                      the learned coarse quantizer
  *   members    (vec_id, cell, embedding, norm)  one row per vector
  *   meta       JSON file                        quantizer arity, table schemas
  *   gens/<b>   members of streaming batch b     ([[applyAppendBatch]])
  *
  * The four are one generation of `dir` ([[graft.core.Commit]]).
  *
  * `members` is written range-partitioned and row-group-sorted by
  * `cell` ([[graft.sources.Sinks.writeSortedBy]]), and [[topk]] pushes
  * the probed cell set into the scan as a literal In predicate — the
  * set is bounded by k BY CONSTRUCTION (there are only k cells), so
  * unlike [[DedupDocs.incrementalIndexed]]'s key pushdown it needs no
  * size cap: a probe decodes only the row groups of its nProbe cells
  * per query batch, never the other k−nProbe cells' bytes.
  *
  * The centroids are INDEX STATE, exactly like DedupIndex's banding
  * parameter: [[append]] assigns new vectors with the STORED centroids
  * (never refits — a refit would silently re-partition the cell space
  * and orphan every existing member row), so generations stay mutually
  * probeable. Re-fit = rebuild ([[write]]), an explicit offline choice.
  *
  * Cosine contract: member norms are stored (write-once derivable),
  * query norms are computed at probe time; scoring is the fused
  * vec_dot expression — identical numerics to the in-flight IVF
  * queries (sim_ivf_kmeans_topk), which is what lets the two spellings
  * share one oracle.
  */
object IvfIndex {

  /** Fit the coarse quantizer (KMeansVec: deterministic init from the k
    * lowest ids, `iters` Lloyd rounds) and write the index. Overwrites
    * `dir`. `fitOn` separates the quantizer's training frame from the
    * indexed frame (standard IVF practice at scale: train on a sample
    * or the anticipated full corpus, index what's on hand, [[refresh]]
    * the rest in as it lands) — null trains on `emb` itself. */
  def write(emb: DataFrame, dir: String, k: Int = 8, iters: Int = 1,
      fitOn: DataFrame = null): Unit = {
    val spark = emb.sparkSession
    val cents = KMeansVec.fit(
      Option(fitOn).getOrElse(emb), "vec_id", "embedding", k, iters)
    val centRows = cents.zipWithIndex.map { case (e, i) =>
      Row(i, e.toSeq)
    }
    val centSchema = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("emb", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val centroids = spark.createDataFrame(
      spark.sparkContext.parallelize(centRows.toIndexedSeq, 1), centSchema)
    val members = membersOf(emb, cents)
    Commit.newGeneration(spark, dir) { gen =>
      centroids.repartition(1).write.mode(SaveMode.Overwrite).parquet(s"$gen/centroids")
      writeMembersInto(members, s"$gen/members", SaveMode.Overwrite)
      describe(spark, gen, k, centroids, members)
    }
  }

  /** The generation's `meta` and its empty `gens/`. */
  private def describe(spark: SparkSession, gen: String, k: Int,
      centroids: DataFrame, members: DataFrame): Unit = {
    IndexMeta.write(spark, gen,
      IndexMeta.of(Map("k" -> k), "centroids" -> centroids, "members" -> members))
    fsOf(spark, gen).mkdirs(new Path(gen, "gens"))
  }

  /** Append new vectors, assigned with the STORED centroids. Existing
    * member files are untouched; appended files carry the same
    * per-file cell sort, so cell pruning holds within every
    * generation. */
  def append(emb: DataFrame, dir: String): Unit =
    appendInto(emb, dir, "members", SaveMode.Append)

  /** Assign `emb` with the stored centroids and write it to `sub` of
    * the live generation, after checking it has the members schema. */
  private def appendInto(emb: DataFrame, dir: String, sub: String, mode: SaveMode): Unit = {
    val spark = emb.sparkSession
    val live = Commit.current(spark, dir)
    val members = membersOf(emb, readCentroids(spark, dir))
    IndexMeta.read(spark, live).requireSchema("members", members)
    writeMembersInto(members, s"$live/$sub", mode)
  }

  /** What [[refresh]] found and did: vectors indexed for the first
    * time, members untouched, members dropped (vanished from the
    * corpus). */
  final case class RefreshDelta(added: Long, kept: Long, removed: Long)

  /** Corpus-level incremental maintenance — Manifest.refresh's delta
    * discipline for the vector index: diff the CURRENT corpus frame
    * against the stored member ids, assign ONLY never-seen vectors with
    * the STORED centroids ([[append]]'s no-refit contract), and, when
    * members VANISHED from the corpus, rewrite the member set without
    * them through [[compact]]'s new generation (a removal cannot be an
    * append). Result: probe-identical to indexing the whole current
    * corpus under the same stored quantizer (IvfIndexSpec pins
    * assignment equality), at delta cost when the corpus only grows —
    * the overwhelmingly common case. Gate a refreshed index with
    * [[recallAt]] before serving: additions can't change existing
    * assignments, but a DRIFTED corpus can outgrow the stored
    * quantizer — a recall drop below the deployment's floor means an
    * offline refit ([[write]]) is due. Same single-writer contract as
    * [[compact]]. */
  def refresh(emb: DataFrame, dir: String): RefreshDelta = {
    val spark = emb.sparkSession
    val current = emb.select(col("vec_id")).persist()
    val stored = readMembers(spark, dir).select(col("vec_id")).persist()
    try {
      val newVecs = emb.join(stored, Seq("vec_id"), "left_anti")
      val nAdded = newVecs.count()
      val nRemoved = stored.join(current, Seq("vec_id"), "left_anti").count()
      val nKept = stored.count() - nRemoved
      if (nAdded > 0) append(newVecs, dir)
      // the id frame can be corpus-sized, so no broadcast hint — the
      // semi-join shuffles on vec_id (uniform) and AQE may still
      // broadcast a small one at runtime
      if (nRemoved > 0) compactWith(spark, dir,
        _.join(current, Seq("vec_id"), "left_semi"))
      RefreshDelta(nAdded, nKept, nRemoved)
    } finally {
      current.unpersist(false); stored.unpersist(false)
    }
  }

  /** Recall@k of the index probe against the exact brute-force ranking
    * over the SAME stored member set — the post-[[refresh]] acceptance
    * gate. Cheap by design: run it on a bounded query sample (the
    * brute-force side is |queries| × |members| fused-dot work, the
    * exact cost profile of sim_cosine_topk). */
  def recallAt(spark: SparkSession, dir: String, queries: DataFrame,
      topK: Int = 3, nProbe: Int = 2): Double = {
    val approx = topk(spark, dir, queries, topK, nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col("query_id"), col("embedding").as("q_emb"),
      sqrt(vecDot(col("embedding"), col("embedding"))).as("q_norm"))
    val members = readMembers(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    val exact = members.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        vecDot(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val nExact = exact.count()
    if (nExact == 0L) 1.0
    else exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .count().toDouble / nExact
  }

  /** One micro-batch of streaming index maintenance: assign with the
    * stored centroids and (over)write batch directory
    * `gens/<batchId>` of the live generation — replaying a batch after
    * a crash rewrites ITS OWN directory and no other, so the append is
    * idempotent per batch id (batch directories are disjoint by
    * construction, so none needs a pointer). */
  def applyAppendBatch(batch: DataFrame, dir: String, batchId: Long): Unit =
    appendInto(batch, dir, s"gens/$batchId", SaveMode.Overwrite)

  /** The member rows of `emb` under the centroids `cents`. */
  private def membersOf(emb: DataFrame, cents: Array[Array[Double]]): DataFrame =
    emb.select(
      col("vec_id"),
      KMeansVec.cellExpr("embedding", cents).as("cell"),
      col("embedding"),
      sqrt(vecDot(col("embedding"), col("embedding"))).as("norm"))

  private def writeMembersInto(rows: DataFrame, path: String, mode: SaveMode): Unit = {
    // cache across writeSortedBy's range-sample + write pair (same
    // lifecycle containment as DedupIndex.write)
    val cached = rows.persist()
    try graft.sources.Sinks.writeSortedBy(cached, path, Seq("cell"), mode = mode)
    finally cached.unpersist(false)
  }

  /** Every member path of the index: the live generation's `members`
    * table plus its COMMITTED streaming batches under `gens/`. A batch
    * counts only when its parquet job committed (`_SUCCESS` present) —
    * a half-written batch from a crashed micro-batch is invisible to
    * probes until its replay rewrites it; non-numeric stray directories
    * are ignored rather than fatal. Each committed batch is a complete,
    * cell-sorted parquet directory, so footer pruning holds per-path. */
  private[graft] def memberPaths(spark: SparkSession, dir: String): Seq[String] = {
    val live = Commit.current(spark, dir)
    val gens = Option(fsOf(spark, live).globStatus(new Path(s"$live/gens/*/_SUCCESS")))
      .toSeq.flatten.map(_.getPath.getParent.getName).filter(_.forall(_.isDigit))
      .sortBy(_.toLong).map(g => s"$live/gens/$g")
    s"$live/members" +: gens
  }

  private def readMembers(spark: SparkSession, dir: String): DataFrame =
    IndexMeta.read(spark, Commit.current(spark, dir))
      .open(spark, "members", memberPaths(spark, dir))

  /** Compact streaming batches and appended files: rewrite `members`
    * fully cell-sorted, with every batch under `gens/` folded in, so
    * footer pruning holds across the WHOLE index again (same offline
    * maintenance contract as [[DedupIndex.compact]]), as a new
    * generation beside a copy of the centroids and a fresh meta: every
    * crash window reads each member exactly once.
    *
    * Single-writer contract: compaction must not run concurrently with
    * [[applyAppendBatch]] or [[append]] — a batch landing in the
    * generation being replaced is lost with it. Pause the maintenance
    * stream (or fence on batch ids) around compaction, exactly as with
    * [[DedupIndex.compact]]. */
  def compact(spark: SparkSession, dir: String): Unit =
    compactWith(spark, dir, identity)

  /** [[compact]] with a member filter applied inside the rewrite — the
    * removal path of [[refresh]] rides the same commit. */
  private def compactWith(spark: SparkSession, dir: String,
      keep: DataFrame => DataFrame): Unit = {
    val live = Commit.current(spark, dir)
    val meta = IndexMeta.read(spark, live)
    val members = keep(readMembers(spark, dir))
    Commit.newGeneration(spark, dir) { gen =>
      graft.sources.Sinks.writeSortedBy(members, s"$gen/members", Seq("cell"))
      val fs = fsOf(spark, gen)
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$live/centroids"),
        fs, new Path(s"$gen/centroids"), false, spark.sparkContext.hadoopConfiguration)
      describe(spark, gen, meta.param("k"),
        meta.open(spark, "centroids", Seq(s"$live/centroids")), members)
    }
  }

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The stored coarse quantizer, ordered by cell id. */
  def readCentroids(spark: SparkSession, dir: String): Array[Array[Double]] = {
    val live = Commit.current(spark, dir)
    IndexMeta.read(spark, live).open(spark, "centroids", Seq(s"$live/centroids"))
      .orderBy(col("cell")).collect().map(_.getSeq[Double](1).toArray)
  }

  def storedK(spark: SparkSession, dir: String): Int =
    IndexMeta.read(spark, Commit.current(spark, dir)).param("k")

  /** Exact-cosine top-k over the index for a (query_id, embedding)
    * frame: map-side probe-cell assignment against the stored centroid
    * literals, cell-set pushdown into the sorted members scan,
    * broadcast probes ⋈ members on cell, fused-vec_dot scoring, one
    * per-query window. Self-matches (a query id that is also a member
    * id) are excluded, mirroring the in-flight IVF queries. */
  def topk(spark: SparkSession, dir: String, queries: DataFrame,
      topK: Int = 3, nProbe: Int = 2): DataFrame = {
    val (scored, _) = scoredCandidates(spark, dir, queries, nProbe)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cos"), col("rn").cast("int").as("rn"))
  }

  /** Probe telemetry over the identical candidate path [[topk]] ranks:
    * (distinct probed cells, scored candidate rows). Wall time hides
    * probe fan-out drift behind CPU headroom at small scale factors —
    * these counts expose it directly (BENCH `sim_ivf_*` rows: members
    * grow with N, so candidates must track N·nProbe/K linearly; a
    * super-linear jump means the quantizer's cells went lopsided). */
  def probeStats(spark: SparkSession, dir: String, queries: DataFrame,
      nProbe: Int = 2): (Long, Long) = {
    val (scored, nCells) = scoredCandidates(spark, dir, queries, nProbe)
    (nCells.toLong, scored.count())
  }

  /** Shared probe path: map-side cell assignment against the stored
    * centroid literals, cell-set pushdown into the members scan,
    * broadcast probes ⋈ members on cell, fused-vec_dot scoring.
    * Self-matches excluded. Returns (scored frame, probed-cell count). */
  private def scoredCandidates(spark: SparkSession, dir: String,
      queries: DataFrame, nProbe: Int): (DataFrame, Int) = {
    val cents = readCentroids(spark, dir)
    require(cents.nonEmpty, s"no centroids at $dir")
    val probeN = math.min(nProbe, cents.length)

    val probes = queries.select(
        col("query_id"),
        col("embedding").as("q_emb"),
        sqrt(vecDot(col("embedding"), col("embedding"))).as("q_norm"),
        KMeansVec.probeCellsExpr("embedding", cents, probeN).as("__cells"))
      .withColumn("cell", explode(transform(col("__cells"), c => c.getField("cid"))))
      .drop("__cells")

    // bounded by construction: there are only |cents| distinct cells,
    // so the collect is ≤ k rows no matter how many queries probe
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0))
    val members = readMembers(spark, dir)
      .filter(col("cell").isin(probedCells.toIndexedSeq: _*))

    val scored = broadcast(probes)
      .join(members, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        vecDot(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")))
    (scored, probedCells.length)
  }

  /** Fused dot product without a function-registry round trip. */
  private def vecDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.PlanBridge.column(
      graft.functions.VecDot(
        org.apache.spark.sql.graft.PlanBridge.expression(a),
        org.apache.spark.sql.graft.PlanBridge.expression(b)))
}
