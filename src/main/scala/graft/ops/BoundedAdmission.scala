package graft.ops

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Driver-side admission of a BOUNDED batch — the steady-state regime
  * of [[DedupDocs.incrementalIndexed]]. A batch of a few dozen docs run
  * through the distributed plan pays ~85 Spark jobs (most of them AQE
  * shuffle stages over a handful of rows); here the batch and the
  * index rows it touches are collected once and the whole admission
  * protocol is decided in plain Scala:
  *
  *   1. one narrow batch collect: doc_id, md5(text), band buckets
  *   2. `fps`   lookup: fingerprints IN the batch's fingerprint set
  *   3. `bands` lookup: buckets IN the batch's bucket set, grouped to
  *      (bucket, row count, first maxVerifyBucket+1 doc ids)
  *   4. one narrow gram collect: string and hashed trigrams of the
  *      batch docs that need verification
  *   5. `grams` lookup: doc_id IN the candidate corpus docs
  *
  * The decision replays the distributed plan's semantics exactly
  * (statuses, components and output schema — pinned by the parity
  * specs in DedupIndexSpec against `maxPushdownKeys = 0`), including
  * its row multiplicities: band counts are row counts and corpus gram
  * sets are counted per stored row, as the joins count them.
  *
  * Every driver-side structure is bounded by the pushdown cap: at most
  * `cap` batch docs and band buckets, at most `cap` candidate corpus
  * docs; a batch over any bound declines (None) and the caller runs
  * the distributed plan instead.
  */
private[ops] object BoundedAdmission {

  /** A collected batch doc: content fingerprint (null for null text)
    * and band-bucket rows (empty when the doc has no signature). */
  final case class Doc(id: Long, fp: String, buckets: Seq[String])

  /** The batch's docs, or None when it has more than `cap` of them,
    * a null id, or a non-long doc_id (the distributed plan's output
    * types follow the input's there). The limit stops the transfer at
    * cap + 1 rows — never O(batch). */
  def collect(batch: DataFrame, rowsPerBand: Int, cap: Int): Option[Seq[Doc]] = {
    if (cap <= 0 || batch.schema("doc_id").dataType != LongType) return None
    val rows = batch
      .select(col("doc_id"), md5(col("text")).as("fp"), expr("minhash_sig(text)").as("sig"))
      .select(col("doc_id"), col("fp"),
        when(col("sig").isNotNull,
          array(DedupDocs.bandCols(col("sig"), rowsPerBand): _*)).as("buckets"))
      .limit(cap + 1).collect()
    if (rows.length > cap || rows.exists(_.isNullAt(0))) None
    else Some(rows.toSeq.map(r => Doc(r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) Nil else r.getSeq[String](2))))
  }

  /** Decide the admission of `docs` (collected from `batch`) on the
    * driver: the same (doc_id, status, component) rows as the
    * distributed plan, as a local DataFrame. None when the batch has
    * duplicate ids, more than `cap` distinct band buckets, or more
    * than `cap` candidate corpus docs to verify against. */
  def admit(index: DedupIndex.Frames, batch: DataFrame, docs: Seq[Doc],
      minJaccard: Option[Double], maxVerifyBucket: Int, cap: Int): Option[DataFrame] = {
    // batch band-bucket row counts (rows, as the count window counts)
    val bn = docs.flatMap(_.buckets).groupMapReduce(identity)(_ => 1)(_ + _)
    if (docs.map(_.id).distinct.size != docs.size || bn.size > cap) return None

    def lookup[T](idx: DataFrame, key: String, keys: Seq[Any])(
        shape: DataFrame => DataFrame)(read: Row => T): Seq[T] =
      if (keys.isEmpty) Nil
      else shape(idx.filter(col(key).isin(keys: _*))).collect().toSeq.map(read)

    val corpusFps = lookup(index.fps, "fp", docs.flatMap(d => Option(d.fp)).distinct)(
      _.select("fp").distinct())(_.getString(0)).toSet
    val exact = docs.filter(d => d.fp != null && corpusFps(d.fp)).map(_.id).toSet

    // per shared bucket: corpus row count, and enough ids to list
    // every member of an ordinary bucket (a bucket over
    // maxVerifyBucket only needs its count)
    val keep = math.max(0L, math.min(maxVerifyBucket.toLong + 1, Int.MaxValue)).toInt
    val corpusBuckets: Map[String, (Long, Seq[Long])] =
      lookup(index.bands, "bucket", bn.keys.toSeq)(
        _.groupBy("bucket").agg(count(lit(1)), slice(collect_list("doc_id"), 1, keep)))(
        r => r.getString(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    def shared(d: Doc) = d.buckets.filter(corpusBuckets.contains)

    val (near, gramsOf) = minJaccard match {
      case None =>
        (docs.filter(d => shared(d).nonEmpty).map(_.id).toSet, Map.empty[Long, Grams])
      case Some(j) =>
        // a shared bucket huge on either side rejects unverified
        val mega = docs.filter(d => shared(d).exists(b =>
          bn(b) > maxVerifyBucket || corpusBuckets(b)._1 > maxVerifyBucket)).map(_.id).toSet
        // exact or mega rejection already decides a doc's status
        // (exact beats near): only the undecided docs need grams
        val undecided = docs.filterNot(d => exact(d.id) || mega(d.id))
        val cand = undecided
          .map(d => d.id -> shared(d).flatMap(b => corpusBuckets(b)._2).distinct)
          .filter(_._2.nonEmpty).toMap
        val dsts = cand.values.flatten.toSeq.distinct
        if (dsts.size > cap) return None
        // remainder docs sharing a batch bucket get clique-verified
        // below — a superset of them is known before verification
        val multi = bn.filter(_._2 > 1).keySet
        val batchGrams = collectGrams(batch,
          (cand.keySet ++ undecided.filter(_.buckets.exists(multi)).map(_.id)).toSeq)
        val dstGrams = lookup(index.grams, "doc_id", dsts)(_.select("doc_id", "gram"))(
          r => r.getLong(0) -> r.getLong(1)).groupMap(_._1)(_._2)
        val verified = cand.collect { case (src, ds) if batchGrams.get(src).exists(g =>
          ds.exists(d => dstGrams.get(d).exists(rows =>
            passes(g.hashed.size, rows.size, rows.count(g.hashed), j)))) => src }
        (mega ++ verified, batchGrams)
    }

    val (rejected, remainder) = docs.partition(d => exact(d.id) || near(d.id))
    val corpusRows = rejected
      .map(d => Row(d.id, if (exact(d.id)) "corpus_exact" else "corpus_near", null))
    val components = withinBatch(remainder, gramsOf, minJaccard, maxVerifyBucket)
    val internal = remainder.map { d =>
      val c = components(d.id)
      Row(d.id, if (c == d.id) "admitted" else "batch_dup", c)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType, batch.schema("doc_id").nullable),
      StructField("status", StringType, nullable = true),
      StructField("component", LongType, nullable = true)))
    Some(batch.sparkSession.createDataFrame((corpusRows ++ internal).asJava, schema))
  }

  /** A batch doc's distinct trigrams: strings (within-batch verification,
    * as `DedupDocs.apply` spells it) and 60-bit hashes (verification
    * against the index's stored gram hashes). */
  final case class Grams(strings: Set[String], hashed: Set[Long])

  private def collectGrams(batch: DataFrame, ids: Seq[Long]): Map[Long, Grams] =
    if (ids.isEmpty) Map.empty
    else graft.queries.Shingles.wordTrigrams(batch.filter(col("doc_id").isin(ids: _*)))
      .select(col("doc_id"), col("gram"), expr(graft.queries.Shingles.h60("gram")))
      .collect().toSeq
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> Grams(rs.map(_.getString(1)).toSet, rs.map(_.getLong(2)).toSet)
      }

  /** The verification floor, spelled as the distributed gate computes
    * it: intersection over union of the two gram counts, in double. */
  private def passes(nSrc: Long, nDst: Long, nInter: Long, j: Double): Boolean =
    nInter.toDouble / (nSrc + nDst - nInter).toDouble >= j

  /** `DedupDocs.apply` over the remainder, on the driver: content-hash
    * star edges, verified LSH cliques for ordinary buckets and
    * unverified stars for mega buckets (or stars everywhere when
    * unverified), then components labelled by their min doc id.
    * Returns doc_id → component. */
  private def withinBatch(docs: Seq[Doc], grams: Map[Long, Grams],
      minJaccard: Option[Double], maxVerifyBucket: Int): Map[Long, Long] = {
    // union-find with the min id as root: a set's root is its label
    val parent = mutable.Map(docs.map(d => d.id -> d.id): _*)
    def find(x: Long): Long = {
      val p = parent(x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    def star(members: Seq[Long]): Unit = { val head = members.min; members.foreach(union(head, _)) }

    docs.filter(_.fp != null).groupBy(_.fp).values.foreach(g => star(g.map(_.id)))
    val rows = docs.flatMap(d => d.buckets.map(_ -> d.id))
    val buckets = rows.groupMap(_._1)(_._2).values
    minJaccard match {
      case None => buckets.foreach(star)
      case Some(j) =>
        buckets.foreach { ids =>
          if (ids.size > maxVerifyBucket) star(ids)
          else {
            val members = ids.distinct.sorted
            for {
              (a, i) <- members.zipWithIndex
              b <- members.drop(i + 1)
              ga <- grams.get(a)
              gb <- grams.get(b)
              if passes(ga.strings.size, gb.strings.size,
                ga.strings.count(gb.strings).toLong, j)
            } union(a, b)
          }
        }
    }
    docs.map(d => d.id -> find(d.id)).toMap
  }
}
