package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end document dedup — the front-door pipeline an LLM corpus
  * runs before training: exact duplicates (content hash) plus near
  * duplicates (MinHash-LSH banding over word trigrams) become candidate
  * edges, connected components turn edges into duplicate GROUPS, and
  * the smallest doc_id per group survives.
  *
  * Scale shape: per-row fused signatures (graft.functions.MinHashSig —
  * no explode, no shuffle before the band join); candidate generation
  * is bucket-bounded (never corpus-wide); label propagation runs in
  * bounded rounds. No driver loops over data; the only driver state is
  * the convergence counter. (Incremental admission of a BOUNDED batch
  * is the exception by design: see [[incrementalIndexed]].)
  */
object DedupDocs {

  private def nSeeds = graft.functions.MinHashSigImpl.Seeds.length

  /** @param docs columns (doc_id: long, text: string)
    * @param minJaccard verification floor for near-dup candidates.
    *        LSH band collisions are CANDIDATES, not confirmations — an
    *        unverified merge permanently drops a unique document. When
    *        set (default 0.5), candidate pairs are verified by EXACT
    *        trigram Jaccard before clustering. Verification must test
    *        PAIRS, so verified mode proposes the bucket CLIQUE
    *        (C(k,2) pairs — a star through the bucket head would never
    *        test a (B,C) pair whose head A is dissimilar to both) for
    *        ordinary buckets, and falls back to unverified star edges
    *        for buckets larger than `maxVerifyBucket` (a million-copy
    *        template: the clique is impossible and the bucket is
    *        overwhelmingly true duplicates). `None` restores pure
    *        star-edge banding everywhere (recall over precision, the
    *        crawl-dedup trade; k−1 edges per bucket, never C(k,2)).
    * @param maxVerifyBucket clique/star regime boundary (verified mode)
    * @param checkpointDir forwarded to ConnectedComponents: reliable
    *        checkpoint dir for cluster runs.
    * @return (doc_id, component, is_survivor) — component is the min
    *         doc_id of the duplicate group (singletons are their own
    *         component and survive)
    */
  def apply(docs: DataFrame, rowsPerBand: Int = 4,
      minJaccard: Option[Double] = Some(0.5),
      maxVerifyBucket: Int = 32,
      checkpointDir: Option[String] = None): DataFrame = {
    require(rowsPerBand > 0 && nSeeds % rowsPerBand == 0,
      s"rowsPerBand must divide $nSeeds (got $rowsPerBand) — a remainder would " +
        "silently drop minhashes from the banding and weaken near-dup recall")
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)

    // exact-duplicate edges: same content hash. Star-shaped (k−1 edges
    // per fingerprint group) and certain — never verified. Null text
    // (failed extraction) hashes to null: those docs have UNKNOWN
    // content, not identical content, and must never merge — drop the
    // null fingerprints before the bucket window groups them together.
    val fps = docs.select($"doc_id", md5($"text").as("fp"))
      .filter($"fp".isNotNull)
    val exactEdges = starEdges(fps.select($"doc_id", $"fp".as("bucket")))

    val buckets = bandBuckets(docs, rowsPerBand)

    val nearEdges = minJaccard match {
      case None => starEdges(buckets)
      case Some(j) =>
        val sized = buckets.withColumn("bsize",
          count(lit(1)).over(Window.partitionBy($"bucket")))
        val small = sized.filter($"bsize" <= maxVerifyBucket).select($"doc_id", $"bucket")
        val cliquePairs = small.as("a")
          .join(small.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
          .distinct()
        val megaStar = starEdges(
          sized.filter($"bsize" > maxVerifyBucket).select($"doc_id", $"bucket"))
        val grams = distinctGrams(docs)
        verifiedPairs(cliquePairs,
          grams.withColumnsRenamed(Map("doc_id" -> "src")),
          grams.withColumnsRenamed(Map("doc_id" -> "dst")), j)
          .unionByName(megaStar)
    }

    val comps = ConnectedComponents(
      docs.select($"doc_id".as("id")),
      exactEdges.unionByName(nearEdges),
      checkpointDir = checkpointDir)
    comps.select(
      $"id".as("doc_id"),
      $"component",
      ($"id" === $"component").as("is_survivor"))
  }

  /** Star edges per bucket: every doc connects to the bucket's min
    * doc_id — k−1 edges per k-doc bucket, never the C(k,2) clique;
    * components are identical to the clique formulation when edges are
    * taken as-is (the difference between a shuffle and an OOM when one
    * template appears a million times in a crawl). */
  private def starEdges(buckets: DataFrame): DataFrame =
    buckets
      .withColumn("head", min(col("doc_id")).over(Window.partitionBy(col("bucket"))))
      .filter(col("doc_id") =!= col("head"))
      .select(col("head").as("src"), col("doc_id").as("dst"))
      .distinct()

  /** Per-band bucket expressions over a `minhash_sig(text)` array —
    * shared by [[bandBuckets]] (exploded, for joins) and the streaming
    * admission gate (one column per band, so the stream can reject on
    * ANY-band-match with sequential anti joins instead of an
    * explode + aggregation it cannot run statelessly). */
  private[graft] def bandCols(sigCol: org.apache.spark.sql.Column,
      rowsPerBand: Int): Seq[org.apache.spark.sql.Column] = {
    val nBands = nSeeds / rowsPerBand
    (0 until nBands).map { b =>
      md5(concat_ws(",",
        (1 to rowsPerBand).map(r => element_at(sigCol, b * rowsPerBand + r)): _*))
    }
  }

  /** MinHash band buckets for a (doc_id, text) frame: fused per-row
    * signatures → one bucket id per band. Package-visible: these are
    * the derivable write-once columns [[DedupIndex]] persists at
    * admission. */
  private[ops] def bandBuckets(docs: DataFrame, rowsPerBand: Int): DataFrame = {
    val sig = docs.select(col("doc_id"), expr("minhash_sig(text)").as("sig"))
      .filter(col("sig").isNotNull)
    sig.select(col("doc_id"),
      explode(array(bandCols(col("sig"), rowsPerBand): _*)).as("bucket"))
  }

  private def distinctGrams(docs: DataFrame): DataFrame =
    graft.queries.Shingles.wordTrigrams(docs)
      .select(col("doc_id"), col("gram")).distinct()

  /** Distinct 60-bit gram hashes per doc — the compact (8 B/gram) gram
    * spelling [[DedupIndex]] stores and [[incrementalIndexed]] verifies
    * against (the dedup_ngram_jaccard contract: Jaccard over hashed
    * gram sets equals Jaccard over string sets absent 60-bit
    * collisions). */
  private[ops] def hashedGrams(docs: DataFrame): DataFrame =
    graft.queries.Shingles.wordTrigrams(docs)
      .select(col("doc_id"),
        expr(graft.queries.Shingles.h60("gram")).as("gram"))
      .distinct()

  /** Exact trigram-Jaccard gate over candidate (src, dst) pairs — the
    * verification joins touch only candidate pairs, so cost scales with
    * the candidate count, not the corpus. Gram sides are passed in
    * separately so batch-vs-corpus verification (disjoint id spaces)
    * reuses the same gate as within-corpus verification. */
  private def verifiedPairs(pairs: DataFrame,
      srcGrams: DataFrame, // (src, gram) distinct
      dstGrams: DataFrame, // (dst, gram) distinct
      j: Double): DataFrame = {
    val srcSizes = srcGrams.groupBy(col("src")).agg(count(lit(1)).as("n_src"))
    val dstSizes = dstGrams.groupBy(col("dst")).agg(count(lit(1)).as("n_dst"))
    val inter = pairs
      .join(srcGrams, "src")
      .join(dstGrams, Seq("dst", "gram"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("src", "dst"), "left_outer")
      .join(srcSizes, "src")
      .join(dstSizes, "dst")
      .filter(
        coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("n_src") + col("n_dst") - coalesce(col("n_inter"), lit(0L))) >= j)
      .select(col("src"), col("dst"))
  }

  /** Incremental dedup: admit a NEW batch against an existing kept
    * corpus without re-clustering the corpus — the steady-state shape
    * of a crawl pipeline (the full `apply` runs once; every later
    * ingest runs this). A batch doc is rejected when it exactly
    * duplicates a corpus doc (content hash), near-duplicates one
    * (shared LSH band + exact-Jaccard verification when `minJaccard`
    * is set), or loses batch-internal dedup among the remainder.
    *
    * At 100 TB the corpus side of both joins reads like an index:
    * fingerprints and band buckets are derivable write-once columns
    * (store them at admission), so each new batch joins against
    * precomputed state instead of re-hashing the corpus;
    * `streaming/Streams` has the row-at-a-time variant of the same
    * idea with the fingerprint set as operator state.
    *
    * @return one row per batch doc: (doc_id, status, component) with
    *         status ∈ corpus_exact | corpus_near | batch_dup | admitted
    *         (precedence in that order) and component = the batch-
    *         internal group for surviving/batch_dup docs (null for
    *         corpus-rejected docs)
    */
  def incremental(corpus: DataFrame, batch: DataFrame,
      rowsPerBand: Int = 4,
      minJaccard: Option[Double] = Some(0.5),
      maxVerifyBucket: Int = 32,
      checkpointDir: Option[String] = None): DataFrame =
    // ONE admission protocol: the direct spelling just derives the
    // index frames in-flight instead of reading stored ones — any
    // regime change lands in both paths by construction
    incrementalIndexed(DedupIndex.build(corpus, rowsPerBand), batch,
      minJaccard, maxVerifyBucket, checkpointDir)

  /** Incremental admission against a PERSISTED index
    * ([[DedupIndex]]): the corpus-side inputs — fingerprints, band
    * buckets, hashed distinct grams — come from index tables written
    * at admission time, so the corpus TEXT is never scanned again
    * (pinned in DedupIndexSpec: no query the call runs scans the
    * corpus parquet). Each batch costs one scan of ITSELF plus joins
    * against precomputed state — the steady-state shape of a crawl
    * pipeline at 100 TB, where re-hashing the corpus per batch is the
    * difference between an hourly ingest and a daily one.
    *
    * Every index-side input is FILTERED BY THE BATCH before any
    * shuffle: fingerprints join the batch's fp set directly, corpus
    * band rows semi-join the batch's bucket set BEFORE the per-bucket
    * count window (per-bucket counts are complete for every retained
    * bucket, so `cn` is unchanged), and corpus gram sets are restricted
    * to candidate dst docs before sizing. A batch therefore touches
    * O(batch footprint) of the index, not O(index) — with the
    * sorted-by-key layout, the untouched remainder is never even read.
    *
    * Band candidates use the same mega-bucket regime as apply(): a
    * shared band bucket that is huge on EITHER side (boilerplate
    * template) would emit |batch∩bucket|·|corpus∩bucket| verification
    * pairs — batch docs in such a bucket are rejected as near-dups
    * UNVERIFIED instead (overwhelmingly true duplicates; the same
    * recall-over-precision trade as apply's star fallback), so the
    * verification join stays bounded by maxVerifyBucket² per bucket.
    *
    * BOUNDED BATCHES are decided on the driver ([[BoundedAdmission]]):
    * when the batch has at most `maxPushdownKeys` docs and band
    * buckets — the steady-state ingest regime — it is collected once,
    * the index rows it can touch are fetched by three literal-In
    * lookups (fps by fingerprint, bands by bucket, grams by candidate
    * corpus doc), and the rest of the protocol runs in plain Scala:
    * about 7 Spark jobs instead of ~85, most of them AQE shuffle stages
    * over a few dozen rows. An In lookup against [[DedupIndex]]'s
    * sorted-by-key layout is an index LOOKUP — every parquet row group
    * whose min/max span contains none of the keys is never read, so
    * probe scanned-bytes is O(keys × row-group size) per file
    * generation, not O(index). The result is a local DataFrame; the op
    * is EAGER on this path.
    *
    * Larger batches (or ones whose candidate corpus set exceeds the
    * cap) run the distributed plan, which `maxPushdownKeys = 0` forces
    * — the parity reference for the driver decision. It pushes the
    * same literal In predicates where the key set is known and
    * bounded: fingerprints and buckets when the batch collect saw the
    * whole batch, candidate dst docs when that set (materialized first
    * — it is bounded by maxVerifyBucket per shared bucket) is within
    * the cap. A batch too large for the collect is re-clustering
    * territory anyway. VolumeSpec pins the scanned-bytes bound across
    * append generations and after compaction. */
  def incrementalIndexed(index: DedupIndex.Frames, batch: DataFrame,
      minJaccard: Option[Double] = Some(0.5),
      maxVerifyBucket: Int = 32,
      checkpointDir: Option[String] = None,
      maxPushdownKeys: Int = 1024): DataFrame = {
    graft.functions.GraftFunctions.register(batch.sparkSession)
    val local = BoundedAdmission.collect(batch, index.rowsPerBand, maxPushdownKeys)
    local
      .flatMap(BoundedAdmission.admit(index, batch, _, minJaccard, maxVerifyBucket,
        maxPushdownKeys))
      .getOrElse(distributedIndexed(index, batch, local, minJaccard, maxVerifyBucket,
        checkpointDir, maxPushdownKeys))
  }

  /** The distributed admission plan: every index-side input is
    * filtered by the batch before any shuffle (see [[incrementalIndexed]]).
    * `local` is the whole batch when the bounded collect saw it. */
  private def distributedIndexed(index: DedupIndex.Frames, batch: DataFrame,
      local: Option[Seq[BoundedAdmission.Doc]],
      minJaccard: Option[Double],
      maxVerifyBucket: Int,
      checkpointDir: Option[String],
      maxPushdownKeys: Int): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._

    // push a key set into an index scan as a literal In predicate when
    // it is known and within the cap (a semantic no-op: the joins keep
    // only matching keys anyway)
    def pushed(idx: DataFrame, key: String, keys: Option[Seq[Any]]): DataFrame =
      keys.filter(_.size <= maxPushdownKeys).fold(idx)(ks => idx.filter(col(key).isin(ks: _*)))

    // equi-join on fp drops null fingerprints (null text) by itself;
    // no distinct() on the index side — the doc_id distinct below
    // absorbs fp multiplicity, and the raw join lets the small batch
    // side broadcast against the index scan
    val exactRej = batch.select($"doc_id", md5($"text").as("fp"))
      .join(pushed(index.fps, "fp", local.map(_.flatMap(d => Option(d.fp)).distinct))
        .select($"fp"), "fp")
      .select($"doc_id").distinct()

    val bBuckets = bandBuckets(batch, index.rowsPerBand)
      .withColumn("bn", count(lit(1)).over(Window.partitionBy($"bucket")))
    // restrict the index to the batch's buckets BEFORE the count
    // window: the window then shuffles only the shared slice
    val cBuckets = pushed(index.bands, "bucket", local.map(_.flatMap(_.buckets).distinct))
      .join(bBuckets.select($"bucket").distinct(), "bucket")
      .select($"bucket", $"doc_id".as("corpus_id"))
      .withColumn("cn", count(lit(1)).over(Window.partitionBy($"bucket")))
    val shared = bBuckets.join(cBuckets, "bucket")
    val nearRej = (minJaccard match {
      case None => shared.select($"doc_id")
      case Some(j) =>
        val mega = shared
          .filter($"bn" > maxVerifyBucket || $"cn" > maxVerifyBucket)
          .select($"doc_id")
        // materialize the candidate pairs once: they are bounded
        // (≤ maxVerifyBucket² per shared bucket), feed several
        // verification consumers, and their dst set keys the grams
        // pushdown below
        val cand = shared
          .filter($"bn" <= maxVerifyBucket && $"cn" <= maxVerifyBucket)
          .select($"doc_id".as("src"), $"corpus_id".as("dst"))
          .distinct()
          .localCheckpoint(true)
        // the limit stops the dst-set transfer at cap+1 rows; a set
        // over the cap is not pushed
        val dstKeys = cand.select($"dst").distinct()
          .limit(maxPushdownKeys + 1).collect().toSeq.map(_.get(0))
        // batch grams hashed with the index's own spelling; corpus
        // gram sets from the index, restricted to candidate docs
        // before the size aggregate ever runs — and, when the dst set
        // is bounded, pushed into the sorted-by-doc_id grams scan so
        // non-candidate row groups are never read
        val dstGrams = pushed(index.grams, "doc_id", Some(dstKeys))
          .withColumnsRenamed(Map("doc_id" -> "dst"))
          .join(cand.select($"dst").distinct(), "dst")
        verifiedPairs(cand,
          hashedGrams(batch).withColumnsRenamed(Map("doc_id" -> "src")),
          dstGrams, j)
          .select($"src".as("doc_id"))
          .unionByName(mega)
    }).distinct()

    admitStatuses(batch, exactRej, nearRej, index.rowsPerBand, minJaccard,
      maxVerifyBucket, checkpointDir)
  }

  /** Shared admission tail: fold the two rejection sets into statuses
    * (exact beats near), then run full within-batch dedup on the
    * remainder. */
  private def admitStatuses(batch: DataFrame, exactRej: DataFrame,
      nearRej: DataFrame, rowsPerBand: Int, minJaccard: Option[Double],
      maxVerifyBucket: Int, checkpointDir: Option[String]): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val corpusRejLazy = exactRej.withColumn("status", lit("corpus_exact"))
      .unionByName(nearRej.withColumn("status", lit("corpus_near")))
      .groupBy($"doc_id")
      // precedence: exact beats near when both reject the same doc
      .agg(min($"status").as("status")) // "corpus_exact" < "corpus_near"
    // Evaluate the rejection set ONCE and truncate its DAG: it is tiny
    // (O(batch) ids) but its lineage is the whole LSH-verification
    // cascade, and it has several downstream consumers (the anti join,
    // the final union) ON TOP of the within-batch apply()'s iterative
    // jobs — without the cut, each consumer re-runs the cascade end to
    // end (measured 19 s → 4 s on the sf0.1 oracle split at local[4]).
    val corpusRej = corpusRejLazy.localCheckpoint(true)
    val remainder = batch.join(corpusRej.select($"doc_id"), Seq("doc_id"), "left_anti")
    val internal = apply(remainder, rowsPerBand, minJaccard, maxVerifyBucket,
      checkpointDir = checkpointDir)
      .select($"doc_id", $"component",
        when($"is_survivor", lit("admitted")).otherwise(lit("batch_dup")).as("status"))

    corpusRej.withColumn("component", lit(null).cast("long"))
      .select($"doc_id", $"status", $"component")
      .unionByName(internal.select($"doc_id", $"status", $"component"))
  }
}
