package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Snapshot-versioned manifests — TIME TRAVEL for the lakehouse
  * family, and the piece that makes maintenance auditable: every
  * [[Manifest]] state becomes an immutable `snap=<k>` generation
  * instead of an in-place overwrite, so a reader pinned to a snapshot
  * sees ONE consistent file set no matter what compaction / erasure /
  * delete maintenance commits concurrently, and an operator can answer
  * "what did this table look like before last night's compaction?" by
  * reading the previous snapshot.
  *
  * The model is Iceberg's, reduced to its load-bearing core: a TABLE IS
  * ITS SNAPSHOT'S FILE LIST (absolute paths + per-file stats), not a
  * directory scan. Writers only ADD files and commit a new list;
  * nothing is physically deleted at commit time — a rewrite (compaction
  * group, erasure CoW) lands its outputs beside the inputs and commits
  * `prev − removed + added`. Old snapshots stay readable until
  * [[expire]] drops them AND the files only they reference — the
  * vacuum step, deliberately separate from every commit so retention is
  * a policy knob, not a side effect.
  *
  * SEQUENCE NUMBERS (Iceberg v2's composition rule, reduced the same
  * way): every commit is numbered by its snapshot id, every data file
  * carries the sequence of the commit that ADDED it, and a snapshot's
  * manifest also records the [[DeletionVectors]] generations VISIBLE at
  * commit time (position and equality), each with the sequence of its
  * first appearance. [[readAt]]/[[readRangeAt]] then run merge-on-read
  * against exactly that snapshot's delete set — a time-travel read of a
  * table under MoR maintenance never resurrects deleted rows — with
  * the v2 scoping rules:
  *
  *  - POSITION deletes name (file_path, row_index) explicitly; data
  *    files are immutable and paths never reused, so the pair is
  *    self-scoping — every visible position generation applies.
  *  - EQUALITY deletes apply only to data files whose sequence is
  *    STRICTLY LESS than the delete generation's. A key tombstoned at
  *    sequence s deletes its old rows but leaves a file added at ≥ s
  *    untouched — re-inserting a tombstoned key is one more append
  *    commit, and a MERGE that writes the tombstone and the new row in
  *    the same commit upserts correctly.
  *
  * Commit mechanics are the engine's one crash-safe commit
  * ([[graft.core.Commit]]): the new manifest is written under a
  * `_`-prefixed staging name and PUBLISHED as `snap=<k>` — readers
  * either see the whole snapshot or none of it,
  * and the previous snapshot is never touched. Driver-side state is
  * the manifest itself — metadata-sized (one row per file or delete
  * generation), the same bound as [[Manifest]]/[[Compaction]] and
  * Spark's own file index.
  *
  * What this deliberately does NOT do: physically-destructive in-place
  * maintenance ([[Erasure.erase]] rewrites files in place) breaks
  * older snapshots by construction — snapshot-safe erasure is the
  * copy-on-write spelling ([[commitRewrite]] with cleaned replacement
  * files), priced against the in-place one in the bench's erase cells.
  * Likewise [[DeletionVectors.pruneDanglingDeletes]] physically drops
  * generations and belongs to the UNGOVERNED lifecycle; under snapshot
  * governance an absorbed generation merely leaves the new snapshot's
  * watermark ([[commitRewrite]]'s `dropDeleteGens`) and stays on disk
  * for older snapshots until [[expire]] retires it.
  */
object Snapshots {

  final case class Commit(snapshot: Long, added: Int, removed: Int, kept: Int)
  final case class ExpireReport(snapshotsDropped: Int, filesDeleted: Int,
      bytesFreed: Long)

  private val KindData = "data"
  private val KindPos = "posdel"
  private val KindEq = "eqdel"

  /** Tombstone rows for files a [[commitRewrite]] REMOVED from the
    * table, carried in every later manifest (atomic with the commit —
    * no marker-file crash window). Two readers depend on them:
    * [[commitFromFs]] (a removed path still on disk under `dataDir`
    * must never be re-listed into the table — the resurrection bug a
    * rewrite would otherwise plant under the "FS listing is truth"
    * rule) and [[streamBatchCommitAt]] (a committed micro-batch whose
    * files a rewrite later absorbed must still read as COMMITTED, or a
    * crash-replay would double-append it). Rows are pruned by the next
    * [[commitFromFs]] once the physical file is gone from `dataDir`
    * (expired), so the set is bounded by rewritten-but-unexpired
    * files, not by table history. */
  private val KindRemoved = "removed"
  private def isWatermarkKind(k: String): Boolean = k == KindPos || k == KindEq

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def snapDir(root: String, snap: Long) = s"$root/snap=$snap"

  private def norm(s: String): String =
    try {
      val g = new java.net.URI(s).getPath
      if (g != null) g else new Path(s).toUri.getPath
    } catch {
      case _: java.net.URISyntaxException => new Path(s).toUri.getPath
    }

  /** In-plan twin of [[norm]] for `_metadata.file_path` values:
    * strips the scheme and (optional) authority — both the
    * `scheme://authority/path` and the `scheme:/path` rendering occur
    * across Hadoop/Spark path printers — so the result joins against
    * driver-side-normalized manifest paths. */
  private def normExpr(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", "")

  /** Committed snapshot ids under `root`, ascending (empty if none). */
  def snapshots(spark: SparkSession, root: String): Seq[Long] = {
    val p = new Path(root)
    val fs = fsOf(spark, root)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("snap="))
      .map(_.getPath.getName.stripPrefix("snap=").toLong)
      .sorted
  }

  def latest(spark: SparkSession, root: String): Option[Long] =
    snapshots(spark, root).lastOption

  /** The manifest frame of one snapshot: `kind` (`data` / `posdel` /
    * `eqdel`), `file`, `n_bytes`, `mtime`, `n_rows`, min_/max_ per
    * stats col, and `seq` — the sequence number of the commit that
    * first added the file or delete generation. A manifest written by
    * the pre-sequence-number format (no kind/seq columns) fails here
    * with an explicit upgrade message instead of an opaque
    * fieldIndex error deep inside a reader. */
  def manifestAt(spark: SparkSession, root: String, snap: Long): DataFrame = {
    val df = spark.read.parquet(snapDir(root, snap))
    val missing = Seq("kind", "seq").filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"snapshot $snap under $root predates the sequence-numbered " +
        s"manifest format (missing ${missing.mkString("/")} columns): " +
        "recommit the table with the current build, or read it with " +
        "the build that wrote it")
    df
  }

  /** The cross-snapshot readers compare two manifests row-by-row; a
    * column drift between them (table re-created with different stats
    * cols, a future format change) would make positional reads land on
    * the wrong fields — and when they land on another STRING column the
    * comparison silently passes with garbage. Assert agreement up
    * front, loudly. */
  private def requireSameManifestSchema(mFrom: DataFrame, mTo: DataFrame,
      fromSnap: Long, toSnap: Long): Unit =
    require(mFrom.schema.fieldNames.sameElements(mTo.schema.fieldNames),
      s"snapshots $fromSnap and $toSnap carry different manifest " +
        s"schemas (${mFrom.schema.fieldNames.mkString(",")} vs " +
        s"${mTo.schema.fieldNames.mkString(",")}); cross-snapshot " +
        "reads are defined only within one table format")

  /** Absolute DATA-file paths of one snapshot. */
  def filesAt(spark: SparkSession, root: String, snap: Long): Seq[String] =
    manifestAt(spark, root, snap).filter(col("kind") === KindData)
      .select(col("file")).collect().map(_.getString(0)).toSeq.sorted

  /** Stage-then-publish commit of a manifest frame as snapshot `next`.
    * The publish ([[graft.core.Commit.publish]]) is also the
    * OPTIMISTIC-CONCURRENCY point: two writers racing to commit the
    * same snapshot id both stage, but publishing onto an existing
    * directory throws — the loser gets a loud exception and must
    * re-derive its commit against the winner's snapshot (the Iceberg
    * commit-retry contract; [[commitFromFs]] carries the retry loop for
    * pure appends). Each attempt stages under its OWN `_stage-<uuid>`
    * path, so racing writers never touch each other's staged manifest.
    * Stale stage dirs from crashed attempts are `_`-prefixed (invisible
    * to every listing) and swept by the next successful publish. */
  private[ops] def commitManifest(spark: SparkSession, root: String,
      manifest: DataFrame, next: Long): Long = {
    val fs = fsOf(spark, root)
    val stage = graft.core.Commit.stage(root)
    manifest.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val dst = new Path(snapDir(root, next))
    try graft.core.Commit.publish(spark, stage, dst)
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(stage, true) // our own attempt's dir — never shared
        throw new java.io.IOException(
          s"could not commit snapshot $dst (concurrent commit won? " +
            "re-derive against the latest snapshot and retry)", e)
    }
    next
  }

  /** Gen-dir paths (`gen=<k>`) currently committed under a delete dir,
    * with their total on-disk bytes — metadata-sized. */
  private def genDirs(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
      .sortBy(_.getPath.getName.stripPrefix("gen=").toInt)
      .map { s =>
        val bytes = fs.listStatus(s.getPath).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .map(_.getLen).sum
        (s.getPath.toString, bytes)
      }
  }

  /** Watermark rows for the CURRENT generations of the given delete
    * dirs: a generation the previous snapshot already recorded keeps
    * its original sequence; a new one is stamped `next`. A generation
    * the previous snapshot listed but that no longer exists on disk is
    * dropped from the new watermark (the old snapshot that needs it
    * will fail loudly at read — the [[expire]] contract). */
  private def watermarkRows(spark: SparkSession, schema: StructType,
      prevSeqOf: Map[(String, String), Long],
      posDeleteDir: Option[String], eqDeleteDir: Option[String],
      next: Long): Seq[Row] = {
    def rowsFor(kind: String, dir: Option[String]): Seq[Row] =
      dir.toSeq.flatMap(d => genDirs(spark, d)).map { case (path, bytes) =>
        val seq = prevSeqOf.getOrElse((kind, norm(path)), next)
        Row.fromSeq(schema.fields.map { f =>
          f.name match {
            case "kind" => kind
            case "file" => path
            case "n_bytes" => bytes
            case "mtime" => 0L
            case "n_rows" => 0L
            case "seq" => seq
            case _ => null
          }
        }.toSeq)
      }
    rowsFor(KindPos, posDeleteDir) ++ rowsFor(KindEq, eqDeleteDir)
  }

  private def withMeta(df: DataFrame, seq: Long): DataFrame =
    df.withColumn("kind", lit(KindData)).withColumn("seq", lit(seq))

  /** Commit a snapshot from the CURRENT files of `dataDir` — the
    * append-path commit (a batch load landed new files in the table
    * dir). Incremental like [[Manifest.refresh]]: stats are computed
    * only for files whose (path, size, mtime) identity the latest
    * snapshot has never seen; known files carry their rows (and their
    * original sequence numbers) over. `posDeleteDir`/`eqDeleteDir`
    * record the [[DeletionVectors]] generations visible at this
    * commit — the snapshot's delete watermark. The previous snapshot
    * is left intact — that is the entire point.
    *
    * COMPOSES WITH REWRITES: the FS listing is truth only for files
    * UNDER `dataDir`. A data file the latest manifest lists outside it
    * (a [[commitRewrite]] output from its own outDir) is kept on the
    * manifest's word alone, and a path the manifest tombstones as
    * [[KindRemoved]] is never re-listed into the table even though the
    * physical file still sits in `dataDir` for older snapshots —
    * without both rules the first append after a compaction would
    * silently drop the compacted files and resurrect the absorbed
    * originals.
    *
    * RETRIES on commit loss: the FS listing is the truth for this
    * path, so losing the rename race just means re-deriving the same
    * file set against the winner's (higher) snapshot id — a pure
    * append never conflicts semantically (the Iceberg fast-append
    * retry). [[commitRewrite]] deliberately does NOT retry: a rewrite
    * losing to another commit may be removing files the winner also
    * touched, and that conflict needs the caller's judgement.
    *
    * IDEMPOTENT: when the listing, the tombstones and the delete
    * watermark all equal the latest snapshot's, that snapshot is
    * returned and nothing is committed, so a retry after a landed
    * commit adds no snapshot. */
  def commitFromFs(spark: SparkSession, dataDir: String, root: String,
      cols: Seq[String], posDeleteDir: Option[String] = None,
      eqDeleteDir: Option[String] = None): Commit = {
    val maxAttempts = 5
    var attempt = 1
    while (attempt < maxAttempts) {
      try return commitFromFsOnce(spark, dataDir, root, cols,
        posDeleteDir, eqDeleteDir)
      catch {
        case _: java.io.IOException =>
          // loser's backoff: linear + a hash-spread jitter so two
          // in-JVM racers don't re-collide in lockstep
          Thread.sleep(20L * attempt + (Thread.currentThread().getId % 17))
          attempt += 1
      }
    }
    commitFromFsOnce(spark, dataDir, root, cols, posDeleteDir, eqDeleteDir)
  }

  private def commitFromFsOnce(spark: SparkSession, dataDir: String,
      root: String, cols: Seq[String], posDeleteDir: Option[String],
      eqDeleteDir: Option[String]): Commit = {
    val current = Manifest.fsList(spark, dataDir)
    latest(spark, root) match {
      case None =>
        val next = 0L
        val m = withMeta(Manifest.statsFor(spark, dataDir, cols, current), next)
        val wm = watermarkRows(spark, m.schema, Map.empty,
          posDeleteDir, eqDeleteDir, next)
        val full =
          if (wm.isEmpty) m
          else m.unionByName(spark.createDataFrame(
            new java.util.ArrayList(java.util.Arrays.asList(wm: _*)), m.schema))
        Commit(commitManifest(spark, root, full, next), current.length, 0, 0)
      case Some(prev) =>
        val next = prev + 1
        val old = manifestAt(spark, root, prev)
        val oldRows = old.collect()
        val ki = old.schema.fieldIndex("kind")
        val fi = old.schema.fieldIndex("file")
        val bi = old.schema.fieldIndex("n_bytes")
        val mi = old.schema.fieldIndex("mtime")
        val si = old.schema.fieldIndex("seq")
        val oldData = oldRows.filter(_.getString(ki) == KindData)
        val oldRemoved = oldRows.filter(_.getString(ki) == KindRemoved)
        val prevSeqOf = oldRows.filter(r => isWatermarkKind(r.getString(ki)))
          .map(r => (r.getString(ki), norm(r.getString(fi))) -> r.getLong(si))
          .toMap
        val curIds = current.map { case (n, _, b, m) => (n, b, m) }.toSet
        val curPaths = current.map(_._1).toSet
        val dataPrefix = norm(dataDir) + "/"
        // the FS listing is truth ONLY for files under dataDir; a data
        // file OUTSIDE it (a rewrite's output committed from its own
        // outDir) is invisible to the listing and must ride through on
        // the manifest alone, or every append after a compaction would
        // silently drop the compacted files
        val kept = oldData.filter { r =>
          val p = norm(r.getString(fi))
          if (p.startsWith(dataPrefix))
            curIds((p, r.getLong(bi), r.getLong(mi)))
          else true
        }
        val keptNorm = kept.map(r => norm(r.getString(fi))).toSet
        // a path a rewrite ever removed is DEAD even though its file
        // is still on disk for older snapshots — re-listing it here
        // would resurrect absorbed rows into every later snapshot
        val removedNorm = oldRemoved.map(r => norm(r.getString(fi))).toSet
        val newFiles = current.filterNot(f =>
          keptNorm(f._1) || removedNorm(f._1))
        // removed tombstones live until their physical file leaves
        // dataDir (expire deleted it) — then nothing is left to
        // resurrect and the row is pruned
        val keptRemoved = oldRemoved.filter { r =>
          val p = norm(r.getString(fi))
          !p.startsWith(dataPrefix) || curPaths(p)
        }
        val wm = watermarkRows(spark, old.schema, prevSeqOf,
          posDeleteDir, eqDeleteDir, next)
        // nothing changed since `prev` (a retry after a landed commit):
        // `prev` is this commit
        if (newFiles.isEmpty && kept.length == oldData.length &&
            keptRemoved.length == oldRemoved.length &&
            wm.map(r => (r.getString(ki), norm(r.getString(fi)))).toSet == prevSeqOf.keySet)
          return Commit(prev, 0, 0, kept.length)
        val keptDf = spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(
            kept ++ keptRemoved: _*)), old.schema)
        val combined =
          if (newFiles.isEmpty) keptDf
          else keptDf.unionByName(
            withMeta(Manifest.statsFor(spark, dataDir, cols, newFiles), next)
              .select(old.schema.fieldNames.map(col): _*))
        val full =
          if (wm.isEmpty) combined
          else combined.unionByName(spark.createDataFrame(
            new java.util.ArrayList(java.util.Arrays.asList(wm: _*)),
            old.schema))
        Commit(commitManifest(spark, root, full, next),
          newFiles.length, oldData.length - kept.length, kept.length)
    }
  }

  /** EXACTLY-ONCE micro-batch ingestion — the foreachBatch sink body
    * for stream→snapshot tables. Structured Streaming's contract makes
    * the SINK responsible for batchId-keyed idempotence: a micro-batch
    * that crashes after its append but before the checkpoint commit is
    * REDELIVERED with the same (batchId, data), and a plain
    * `mode("append")` sink double-appends it into every later snapshot
    * forever. This sink closes both crash windows:
    *
    *  - the batch lands under a batch-stamped dir
    *    (`dataDir/batch=<id>/` — the [[DeletionVectors]] gen-dir
    *    pattern) written with `mode("overwrite")`, so a replay of a
    *    crash-mid-append attempt REPLACES the partial files instead of
    *    adding beside them;
    *  - if the LATEST snapshot already lists files under that batch
    *    dir, the batch committed before the crash — the replay is a
    *    no-op (same batchId ⇒ same data, the replayable-source
    *    contract), returning the existing snapshot untouched.
    *
    * The skip check consults only the latest snapshot — sound because
    * a committed batch's paths stay in every later manifest FOREVER:
    * as data rows while live, as [[KindRemoved]] tombstones after a
    * rewrite (compaction / absorb) replaces them — so a rewrite
    * landing inside the crash-replay window cannot make the batch
    * look uncommitted (and the checkpoint only ever redelivers the
    * most recent uncommitted batch). Usage: `.foreachBatch { (df, id) =>
    * Snapshots.commitStreamBatch(spark, dataDir, root, cols, id, df) }`. */
  def commitStreamBatch(spark: SparkSession, dataDir: String, root: String,
      cols: Seq[String], batchId: Long, df: DataFrame,
      posDeleteDir: Option[String] = None,
      eqDeleteDir: Option[String] = None): Commit = {
    streamBatchCommitAt(spark, dataDir, root, batchId).getOrElse {
      df.write.mode("overwrite").parquet(s"$dataDir/batch=$batchId")
      commitFromFs(spark, dataDir, root, cols, posDeleteDir, eqDeleteDir)
    }
  }

  /** True iff micro-batch `batchId` already committed into a snapshot
    * under `root` — the guard a foreachBatch body MUST consult before
    * any side effect that is not replay-idempotent on its own. The
    * data append is safe either way ([[commitStreamBatch]] overwrites
    * the batch dir and skips the commit), but a MERGE batch also adds
    * an equality-tombstone generation, and a redelivered tombstone-add
    * AFTER the batch committed is not harmless: the dangling
    * generation would enter the NEXT commit's watermark with that
    * LATER sequence and erase this batch's own new versions (file seq
    * < gen seq). Guarding the whole batch body on this check is what
    * makes merge ingestion exactly-once end to end. (A crash BEFORE
    * the commit replays the tombstone-add too — that duplicate
    * generation is effect-idempotent: same keys, same commit sequence,
    * absorbed together.) */
  def streamBatchCommitted(spark: SparkSession, dataDir: String,
      root: String, batchId: Long): Boolean =
    streamBatchCommitAt(spark, dataDir, root, batchId).isDefined

  /** The committed snapshot whose manifest already lists `batchId`'s
    * files, as a [[Commit]] (added/removed 0 — the replay no-op). */
  private def streamBatchCommitAt(spark: SparkSession, dataDir: String,
      root: String, batchId: Long): Option[Commit] = {
    val batchPrefix = norm(s"$dataDir/batch=$batchId") + "/"
    latest(spark, root).flatMap { snap =>
      val m = manifestAt(spark, root, snap)
      val rows = m.collect()
      val ki = m.schema.fieldIndex("kind")
      val fi = m.schema.fieldIndex("file")
      val data = rows.filter(_.getString(ki) == KindData)
      // a committed batch whose files a LATER rewrite absorbed is
      // still committed: its paths live on as KindRemoved tombstones,
      // so the guard consults both — without the tombstone check a
      // compaction landing between the batch's commit and a crash
      // replay would make the batch look uncommitted and re-append it
      val committed = rows.filter(r => r.getString(ki) == KindData ||
        r.getString(ki) == KindRemoved)
      if (committed.exists(r => norm(r.getString(fi)).startsWith(batchPrefix)))
        Some(Commit(snap, 0, 0, data.length)) // replay of a committed batch
      else None
    }
  }

  /** Commit an explicit REWRITE: next snapshot = latest − `removed` +
    * the files under `addedDir` (compaction group outputs, erasure-CoW
    * replacements). The removed files are NOT deleted — they stay on
    * disk for older snapshots until [[expire]] — which is exactly what
    * makes a mid-maintenance read repeatable. `dropDeleteGens` names
    * the delete-generation dirs the rewrite ABSORBED (their rows are
    * folded into the new files): they leave this snapshot's watermark
    * but stay on disk for the older snapshots that still need them —
    * [[expire]] retires them with the last referencing snapshot. Stats
    * for the added files are computed here (one column-pruned scan of
    * just those files); added files are stamped with this commit's
    * sequence. */
  def commitRewrite(spark: SparkSession, root: String,
      removed: Seq[String], addedDir: String, cols: Seq[String],
      dropDeleteGens: Seq[String] = Nil): Commit = {
    val prev = latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no snapshot under $root to rewrite"))
    val next = prev + 1
    val old = manifestAt(spark, root, prev)
    val oldRows = old.collect()
    val ki = old.schema.fieldIndex("kind")
    val fi = old.schema.fieldIndex("file")
    val oldData = oldRows.filter(_.getString(ki) == KindData)
    val removedNorm = removed.map(norm).toSet
    val (dropped, kept) = oldData.partition(r => removedNorm(norm(r.getString(fi))))
    require(dropped.length == removedNorm.size,
      s"rewrite removes ${removedNorm.size} files but snapshot $prev " +
        s"contains only ${dropped.length} of them")
    val droppedGens = dropDeleteGens.map(norm).toSet
    val keptWm = oldRows.filter(r => r.getString(ki) != KindData &&
      !droppedGens(norm(r.getString(fi))))
    // tombstone every removed path (atomic with this commit): the
    // files stay on disk for older snapshots, and [[commitFromFs]] /
    // [[streamBatchCommitAt]] need a durable record that they are no
    // longer THIS table's truth — see [[KindRemoved]]
    val removedRows = dropped.map { r =>
      Row.fromSeq(old.schema.fields.map { f =>
        f.name match {
          case "kind" => KindRemoved
          case "file" => r.getString(fi)
          case "n_bytes" => 0L
          case "mtime" => 0L
          case "n_rows" => 0L
          case "seq" => next
          case _ => null
        }
      }.toSeq)
    }
    val added = Manifest.fsList(spark, addedDir)
    val keptDf = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(
        kept ++ keptWm ++ removedRows: _*)),
      old.schema)
    val combined =
      if (added.isEmpty) keptDf
      else keptDf.unionByName(
        withMeta(Manifest.statsFor(spark, addedDir, cols, added), next)
          .select(old.schema.fieldNames.map(col): _*))
    Commit(commitManifest(spark, root, combined, next),
      added.length, dropped.length, kept.length)
  }

  /** Execute the maintenance planner's top action in one call: ABSORB
    * every delete generation visible at the latest snapshot into
    * rewritten data files and commit the rewrite with an empty
    * watermark. Rewrites ONLY the files a visible generation can
    * touch — position generations name their files explicitly, an
    * equality generation reaches exactly the files with strictly
    * smaller sequence — so the cost is O(affected), not O(table): a
    * table whose deletes cluster in one partition rewrites one
    * partition. The affected files are read through the snapshot's own
    * merge-on-read path (so a key re-inserted after its tombstone
    * keeps the v2 sequence scoping through the rewrite), landed under
    * `outDir`, and committed via [[commitRewrite]] with
    * `dropDeleteGens` = the whole watermark; generations stay on disk
    * for older snapshots until [[expire]]. Returns None when the
    * watermark is already empty (nothing to absorb — the
    * [[MaintenancePlanner]] empty-plan case). */
  def absorbDeletes(spark: SparkSession, root: String, outDir: String,
      cols: Seq[String]): Option[Commit] = {
    val snap = latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no snapshot under $root to absorb"))
    val m = manifestAt(spark, root, snap)
    val rows = m.collect()
    val ki = m.schema.fieldIndex("kind")
    val fi = m.schema.fieldIndex("file")
    val si = m.schema.fieldIndex("seq")
    val gens = rows.filter(r => isWatermarkKind(r.getString(ki)))
    if (gens.isEmpty) return None
    val posNamed = gens.filter(_.getString(ki) == KindPos).map(_.getString(fi)) match {
      case Array() => Set.empty[String]
      case dirs => spark.read.parquet(dirs.toSeq: _*)
        .select(col("file_path")).distinct()
        .collect().map(r => norm(r.getString(0))).toSet
    }
    val maxEqSeq = gens.filter(_.getString(ki) == KindEq)
      .map(_.getLong(si)).maxOption.getOrElse(Long.MinValue)
    val affected = rows.filter(_.getString(ki) == KindData).filter { r =>
      posNamed(norm(r.getString(fi))) || r.getLong(si) < maxEqSeq
    }.map(_.getString(fi)).toSeq.sorted
    if (affected.isEmpty) {
      // every generation is dead weight (applies to nothing): commit
      // the watermark drop without touching a data file
      fsOf(spark, root).mkdirs(new Path(outDir)) // empty added-dir
      val c = commitRewrite(spark, root, removed = Nil, addedDir = outDir,
        cols = cols, dropDeleteGens = gens.map(_.getString(fi)).toSeq)
      return Some(c)
    }
    readMergedFiles(spark, rows, m.schema, affected, basePath = None)
      .write.mode("overwrite").parquet(outDir)
    Some(commitRewrite(spark, root, removed = affected, addedDir = outDir,
      cols = cols, dropDeleteGens = gens.map(_.getString(fi)).toSeq))
  }

  /** Merge-on-read over an explicit file subset of one snapshot:
    * anti-join away the snapshot's visible position deletes, then its
    * equality deletes scoped to data files with strictly smaller
    * sequence. The helper columns ride the scan's own `_metadata`
    * struct, so the data side pays no shuffle; the delete side
    * broadcasts while the manifest's recorded generation bytes stay
    * under the limit (KBs per million deleted rows — the
    * [[DeletionVectors]] sizing argument), and a watermark big enough
    * to spill the broadcast is the signal compaction is overdue. */
  private def readMergedFiles(spark: SparkSession, manifest: Array[Row],
      schema: StructType, files: Seq[String],
      basePath: Option[String], mergeSchema: Boolean = false): DataFrame = {
    val ki = schema.fieldIndex("kind")
    val fi = schema.fieldIndex("file")
    val bi = schema.fieldIndex("n_bytes")
    val si = schema.fieldIndex("seq")
    val posRows = manifest.filter(_.getString(ki) == KindPos)
    val posGens = posRows.map(_.getString(fi)).toSeq
    val eqRows = manifest.filter(_.getString(ki) == KindEq)
    val eqGens = eqRows.map(r => (r.getString(fi), r.getLong(si))).toSeq
    val r0 = basePath.foldLeft(spark.read)((rd, b) => rd.option("basePath", b))
    val r = if (mergeSchema) r0.option("mergeSchema", "true") else r0
    val plain = r.parquet(files: _*)
    if (posGens.isEmpty && eqGens.isEmpty) return plain

    // broadcast decided from the manifest's RECORDED generation bytes
    // (no count() job, no FS listing — the commit already paid it);
    // past the limit the anti-join shuffles, which is correct and the
    // signal compaction is overdue (the DeletionVectors sizing rule)
    val broadcastByteLimit = 256L * 1024 * 1024
    def sided(df: DataFrame, bytes: Long): DataFrame =
      if (bytes <= broadcastByteLimit) broadcast(df) else df

    // both anti-join keys are projected from the scan relation BEFORE
    // any join (hidden _metadata columns resolve only against the scan)
    var out = plain.select(col("*"),
      col("_metadata.file_path").as("__dv_file"),
      col("_metadata.row_index").as("__dv_pos"),
      normExpr(col("_metadata.file_path")).as("__sf"))
    if (posGens.nonEmpty) {
      val dels = sided(spark.read.parquet(posGens: _*)
        .select(col("file_path"), col("row_index")).distinct(),
        posRows.map(_.getLong(bi)).sum)
      out = out.join(dels,
        out("__dv_file") === dels("file_path") &&
          out("__dv_pos") === dels("row_index"),
        "left_anti")
    }
    if (eqGens.nonEmpty) {
      // per-generation sequence stamp; a key tombstoned repeatedly
      // keeps its MAX sequence (applies to the most files)
      val eqAll = eqGens.map { case (p, s) =>
        spark.read.parquet(p).withColumn("__eq_seq", lit(s))
      }.reduce(_.unionByName(_))
      val keyCols = eqAll.columns.filterNot(_ == "__eq_seq").toSeq
      val keys = sided(
        eqAll.groupBy(keyCols.map(col): _*).agg(max("__eq_seq").as("__eq_seq"))
          .toDF(keyCols.map(c => s"__eq_$c") :+ "__eq_seq": _*),
        eqRows.map(_.getLong(bi)).sum)
      // file sequence from the manifest's data rows — file-grain,
      // broadcast
      val seqRows = manifest.filter(_.getString(ki) == KindData)
        .map(r => Row(norm(r.getString(fi)), r.getLong(si)))
      val seqDf = broadcast(spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(seqRows: _*)),
        StructType(Seq(StructField("__sf", StringType),
          StructField("__file_seq", LongType)))))
      // LEFT join + newest-default, never inner: a data row whose
      // _metadata path fails to string-match the driver-normalized
      // manifest path (encoding drift) must keep its rows — treated as
      // newest, so no equality delete applies (fail-safe toward
      // RETAINING data; the Compaction scoped-absorb rule) — instead
      // of silently vanishing from the read
      val tagged = out.join(seqDf, Seq("__sf"), "left")
        .withColumn("__file_seq",
          coalesce(col("__file_seq"), lit(Long.MaxValue)))
      val cond = keyCols.map(c => tagged(c) <=> keys(s"__eq_$c")).reduce(_ && _) &&
        keys("__eq_seq") > tagged("__file_seq")
      out = tagged.join(keys, cond, "left_anti").drop("__file_seq")
    }
    out.drop("__dv_file", "__dv_pos", "__sf")
  }

  /** Read one snapshot — the time-travel scan, MERGE-ON-READ: exactly
    * the snapshot's data files minus the delete generations its
    * watermark recorded (position deletes by (path, index); equality
    * deletes scoped to files with strictly smaller sequence). A
    * snapshot with an empty watermark reads its files directly — zero
    * overhead. `basePath` keeps Hive partition columns visible for
    * partitioned layouts (pass the table root). A vanished file or
    * delete generation fails the read loudly (the snapshot outlived
    * its retention — see [[expire]]), never silently narrows it.
    * `mergeSchema` enables ADD-COLUMN schema evolution across commits:
    * a later append may carry extra columns, and the merged read
    * surfaces them with nulls for the older files (parquet's
    * schema-union semantics; renames/drops need field-id machinery
    * this module deliberately does not carry). */
  def readAt(spark: SparkSession, root: String, snap: Long,
      basePath: Option[String] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val m = manifestAt(spark, root, snap)
    val rows = m.collect()
    val ki = m.schema.fieldIndex("kind")
    val fi = m.schema.fieldIndex("file")
    val files = rows.filter(_.getString(ki) == KindData)
      .map(_.getString(fi)).toSeq.sorted
    require(files.nonEmpty, s"snapshot $snap lists no files")
    readMergedFiles(spark, rows, m.schema, files, basePath, mergeSchema)
  }

  /** Manifest-pruned range read AT a snapshot: candidate files from
    * that snapshot's stats, then the row-level predicate — the
    * [[Manifest.readRange]] contract with a pinned file set, and the
    * snapshot's delete watermark applied like [[readAt]]. */
  def readRangeAt(spark: SparkSession, root: String, snap: Long,
      statsCol: String, lo: Any, hi: Any,
      basePath: Option[String] = None): DataFrame = {
    val m = manifestAt(spark, root, snap)
    val rows = m.collect()
    val files = candidateFilesAt(spark, root, snap, statsCol, lo, hi)
    val base =
      if (files.isEmpty) readAt(spark, root, snap, basePath).filter(lit(false))
      else readMergedFiles(spark, rows, m.schema, files, basePath)
    base.filter(col(statsCol) >= lit(lo) && col(statsCol) <= lit(hi))
  }

  /** DATA files of one snapshot whose recorded min/max span on
    * `statsCol` can contain a value in [lo, hi] — the file-skipping
    * probe behind [[readRangeAt]], exposed for telemetry (the bench's
    * files_read cells). Works for ANY column the commit recorded stats
    * for (`cols` at [[commitFromFs]]/[[commitRewrite]]): recording a
    * second, non-primary column at commit time is what lets a
    * snapshot-era scan skip files on predicates the layout was not
    * sorted by — as long as the column correlates with the layout
    * (Iceberg's per-column bounds play the same role). */
  def candidateFilesAt(spark: SparkSession, root: String, snap: Long,
      statsCol: String, lo: Any, hi: Any): Seq[String] =
    manifestAt(spark, root, snap)
      .filter(col("kind") === KindData &&
        col(s"min_$statsCol") <= lit(hi) && col(s"max_$statsCol") >= lit(lo))
      .select(col("file")).collect().map(_.getString(0)).toSeq

  /** Append-only INCREMENTAL scan — the CDC-consumer pattern on
    * snapshots (Iceberg's incremental read): exactly the files `to`
    * lists that `from` does not, i.e. the data appended between the
    * two commits — a downstream consumer processes each commit's delta
    * without ever rescanning the table. `to`'s delete watermark is
    * applied to the delta (a position or tombstone delete can land on
    * a file in the same window that appended it). Defined ONLY on
    * append lineage: if any `from` file is gone by `to` (a compaction/
    * erasure rewrite happened in between), the "added" files carry
    * REWRITTEN OLD ROWS and an incremental consumer would
    * double-process them — so this fails loudly and the consumer must
    * resync from a full read (the same contract Iceberg enforces on
    * replace snapshots). The same fail-loud rule covers DELETES of old
    * rows: a new delete generation in the window that targets a
    * pre-`from` file would be invisible to a delta consumer (no
    * retraction row exists to deliver), so it too forces a resync —
    * equality generations always (they scope to every older file),
    * position generations only when their named files predate `from`.
    * A consumer that can APPLY removals should use [[readChangefeed]]
    * instead, which delivers exactly those deletes as retraction rows
    * and never needs the resync. */
  def readIncremental(spark: SparkSession, root: String, fromSnap: Long,
      toSnap: Long, basePath: Option[String] = None): DataFrame = {
    val mFrom = manifestAt(spark, root, fromSnap)
    val fromRows = mFrom.collect()
    val mTo = manifestAt(spark, root, toSnap)
    val toRows = mTo.collect()
    requireSameManifestSchema(mFrom, mTo, fromSnap, toSnap)
    // indices for fromRows resolved from mFrom's OWN schema (and the
    // check above makes them interchangeable): indexing one manifest's
    // rows with the other's field positions would silently read the
    // wrong columns if the formats ever diverged
    val ki = mTo.schema.fieldIndex("kind")
    val fi = mTo.schema.fieldIndex("file")
    val fKi = mFrom.schema.fieldIndex("kind")
    val fFi = mFrom.schema.fieldIndex("file")
    val before = fromRows.filter(_.getString(fKi) == KindData)
      .map(_.getString(fFi)).toSet
    val after = toRows.filter(_.getString(ki) == KindData)
      .map(_.getString(fi)).toSeq.sorted
    val removed = before -- after.toSet
    require(removed.isEmpty,
      s"snapshots $fromSnap->$toSnap are not append-only lineage " +
        s"(${removed.size} files removed/rewritten); incremental " +
        "consumption is defined on appends - resync from a full read")
    // delete-watermark guard (the same fail-loud contract as the
    // rewrite case): a delete generation landed between the snapshots
    // can target rows in files already present at `from` — rows this
    // read never revisits, so the consumer's materialization would
    // silently diverge from readAt(to). An equality generation applies
    // to EVERY pre-`from` file by the sequence rule, so any new one
    // fails; a new position generation names its files explicitly, so
    // it fails only if it actually touches a pre-`from` file.
    val fromGens = fromRows.filter(r => isWatermarkKind(r.getString(fKi)))
      .map(r => (r.getString(fKi), norm(r.getString(fFi)))).toSet
    val newGens = toRows.filter(r => isWatermarkKind(r.getString(ki)))
      .filterNot(r => fromGens((r.getString(ki), norm(r.getString(fi)))))
    if (newGens.nonEmpty && before.nonEmpty) {
      require(!newGens.exists(_.getString(ki) == KindEq),
        s"snapshots $fromSnap->$toSnap added equality-delete " +
          "generations that apply to pre-existing files; incremental " +
          "consumption cannot retract already-delivered rows - resync " +
          "from a full read")
      val newPosDirs = newGens.filter(_.getString(ki) == KindPos)
        .map(_.getString(fi))
      if (newPosDirs.nonEmpty) {
        // file-grain driver state: distinct file_path of a KB-sized
        // delete generation — the DeletionVectors sizing bound
        val beforeNorm = before.map(norm)
        val hit = spark.read.parquet(newPosDirs: _*)
          .select(col("file_path")).distinct()
          .collect().map(r => norm(r.getString(0)))
          .filter(beforeNorm)
        require(hit.isEmpty,
          s"snapshots $fromSnap->$toSnap added position deletes on " +
            s"${hit.length} pre-existing file(s) (first: " +
            s"${hit.headOption.getOrElse("")}); incremental consumption " +
            "cannot retract already-delivered rows - resync from a full read")
      }
    }
    val added = after.filterNot(before)
    if (added.isEmpty)
      readAt(spark, root, toSnap, basePath).filter(lit(false))
    else readMergedFiles(spark, toRows, mTo.schema, added, basePath)
  }

  /** CHANGELOG scan of the window (`fromSnap`, `toSnap`] — the CDC
    * read for consumers that can apply RETRACTIONS (Iceberg's
    * changelog scan / Delta CDF, reduced): every row added in the
    * window tagged `_change_type = "insert"`, every row VISIBLE at
    * `fromSnap` that a window delete removed tagged `"delete"`. This
    * is the production exit from [[readIncremental]]'s fail-loud
    * contract: the append-only read MUST resync when a delete lands on
    * pre-window files (it has no way to deliver the removal), while a
    * changefeed consumer applies the delete row and stays exact.
    *
    * Semantics (NET within the window): a row added and deleted in the
    * same window appears in neither set; a row already invisible at
    * `fromSnap` is never re-retracted (re-deleting is idempotent
    * upstream, silent here). Still defined ONLY on append lineage —
    * a rewrite (compaction/CoW erasure) carries OLD rows in new files
    * and fails loudly exactly like [[readIncremental]].
    *
    * Plan shape: one scan of the window's added files (the insert
    * side, `toSnap`'s delete set anti-joined) + one scan of ONLY the
    * fromSnap files the window's deletes can touch for the delete side
    * ([[changefeedFromFiles]] — position generations name their
    * targets, equality generations reach seq-scoped files whose
    * manifest key range overlaps a tombstone key), visible-at-from
    * rows SEMI-joined against only the window's NEW delete
    * generations (position pairs exactly; equality keys
    * sequence-scoped). All delete sides broadcast under the manifest's
    * recorded-bytes rule; the data sides pay no shuffle. Both the scan
    * and the retraction volume are bounded by the window's deletes,
    * not the table. */
  /** Normalized paths of fromSnap's data files the window's NEW delete
    * generations can touch — the retraction-scan prune set:
    *
    *  - a position generation names its target `file_path`s, so its
    *    reach is exactly that list;
    *  - an equality generation reaches only files with sequence
    *    STRICTLY BELOW its own (the v2 scoping rule), and among those
    *    only files whose recorded min/max range on a tombstone KEY
    *    column can contain one of the window's tombstone keys (the
    *    same per-file stats [[candidateFilesAt]] prunes range reads
    *    with). A key column without recorded stats degrades to
    *    seq-only pruning — conservative, never lossy.
    *
    * False positives are harmless (the semi-join drops them); false
    * negatives are impossible because file stats bound every row the
    * file holds. Driver-side work is one pass over the manifest rows
    * plus the distinct keys of the window's generations — both
    * metadata-sized. */
  private def changefeedAffectedNorm(spark: SparkSession,
      fromSchema: StructType, fromRows: Array[Row],
      toSchema: StructType, newGens: Array[Row]): Set[String] = {
    val fKi = fromSchema.fieldIndex("kind")
    val fFi = fromSchema.fieldIndex("file")
    val fSi = fromSchema.fieldIndex("seq")
    val ki = toSchema.fieldIndex("kind")
    val fi = toSchema.fieldIndex("file")
    val si = toSchema.fieldIndex("seq")
    val fromData = fromRows.filter(_.getString(fKi) == KindData)
    val newPosGens = newGens.filter(_.getString(ki) == KindPos)
    val posNamed: Set[String] =
      if (newPosGens.isEmpty) Set.empty
      else spark.read.parquet(newPosGens.map(_.getString(fi)).toSeq: _*)
        .select(col("file_path")).distinct()
        .collect().map(r => norm(r.getString(0))).toSet
    val newEqGens = newGens.filter(_.getString(ki) == KindEq)
    val eqAffected: Set[String] =
      if (newEqGens.isEmpty) Set.empty
      else {
        val maxEqSeq = newEqGens.map(_.getLong(si)).max
        val inReach = fromData.filter(_.getLong(fSi) < maxEqSeq)
        val eqDf = spark.read.parquet(newEqGens.map(_.getString(fi)).toSeq: _*)
        val statKey = eqDf.columns
          .find(c => fromSchema.fieldNames.contains(s"min_$c"))
        statKey match {
          case None => inReach.map(r => norm(r.getString(fFi))).toSet
          case Some(c) =>
            val keys = eqDf.select(col(c)).distinct().collect()
              .map(_.get(0)).filter(_ != null)
            val mnI = fromSchema.fieldIndex(s"min_$c")
            val mxI = fromSchema.fieldIndex(s"max_$c")
            @annotation.nowarn("cat=unchecked")
            def cmp(a: Any, b: Any): Int =
              a.asInstanceOf[Comparable[Any]].compareTo(b)
            inReach.filter { r =>
              // missing stats keep the file — conservative
              r.isNullAt(mnI) || r.isNullAt(mxI) ||
                keys.exists(k =>
                  cmp(k, r.get(mnI)) >= 0 && cmp(k, r.get(mxI)) <= 0)
            }.map(r => norm(r.getString(fFi))).toSet
        }
      }
    posNamed ++ eqAffected
  }

  /** The data files of `fromSnap` a [[readChangefeed]] of
    * (`fromSnap`, `toSnap`] opens on its RETRACTION side — the pruning
    * telemetry (the bench's changefeed_files_read cell, and the
    * files-opened assertions in the specs). Empty when the window adds
    * no delete generation. */
  def changefeedFromFiles(spark: SparkSession, root: String, fromSnap: Long,
      toSnap: Long): Seq[String] = {
    val mFrom = manifestAt(spark, root, fromSnap)
    val fromRows = mFrom.collect()
    val mTo = manifestAt(spark, root, toSnap)
    val toRows = mTo.collect()
    requireSameManifestSchema(mFrom, mTo, fromSnap, toSnap)
    val fKi = mFrom.schema.fieldIndex("kind")
    val fFi = mFrom.schema.fieldIndex("file")
    val ki = mTo.schema.fieldIndex("kind")
    val fi = mTo.schema.fieldIndex("file")
    val fromGens = fromRows.filter(r => isWatermarkKind(r.getString(fKi)))
      .map(r => (r.getString(fKi), norm(r.getString(fFi)))).toSet
    val newGens = toRows.filter(r => isWatermarkKind(r.getString(ki)))
      .filterNot(r => fromGens((r.getString(ki), norm(r.getString(fi)))))
    if (newGens.isEmpty) return Seq.empty
    val affected = changefeedAffectedNorm(spark, mFrom.schema, fromRows,
      mTo.schema, newGens)
    fromRows.filter(_.getString(fKi) == KindData)
      .map(_.getString(fFi)).filter(f => affected(norm(f))).toSeq.sorted
  }

  def readChangefeed(spark: SparkSession, root: String, fromSnap: Long,
      toSnap: Long, basePath: Option[String] = None): DataFrame = {
    val mFrom = manifestAt(spark, root, fromSnap)
    val fromRows = mFrom.collect()
    val mTo = manifestAt(spark, root, toSnap)
    val toRows = mTo.collect()
    requireSameManifestSchema(mFrom, mTo, fromSnap, toSnap)
    val ki = mTo.schema.fieldIndex("kind")
    val fi = mTo.schema.fieldIndex("file")
    // fromRows indexed via mFrom's own schema (asserted identical
    // above — same rationale as readIncremental)
    val fKi = mFrom.schema.fieldIndex("kind")
    val fFi = mFrom.schema.fieldIndex("file")
    val fBi = mFrom.schema.fieldIndex("n_bytes")
    val fSi = mFrom.schema.fieldIndex("seq")
    val bi = mTo.schema.fieldIndex("n_bytes")
    val si = mTo.schema.fieldIndex("seq")
    val before = fromRows.filter(_.getString(fKi) == KindData)
      .map(_.getString(fFi)).toSeq.sorted
    val after = toRows.filter(_.getString(ki) == KindData)
      .map(_.getString(fi)).toSeq.sorted
    val removed = before.toSet -- after.toSet
    require(removed.isEmpty,
      s"snapshots $fromSnap->$toSnap are not append-only lineage " +
        s"(${removed.size} files removed/rewritten); a rewrite's files " +
        "carry old rows, not changes - resync from a full read")

    // the INSERT side: the window's added files under toSnap's delete
    // set (a row added and deleted in the window nets out here)
    val added = after.filterNot(before.toSet)
    val inserts =
      if (added.isEmpty) readAt(spark, root, toSnap, basePath).filter(lit(false))
      else readMergedFiles(spark, toRows, mTo.schema, added, basePath)

    // the DELETE side: fromSnap's rows that the window's NEW delete
    // generations removed
    val fromGens = fromRows.filter(r => isWatermarkKind(r.getString(fKi)))
      .map(r => (r.getString(fKi), norm(r.getString(fFi)))).toSet
    val newGens = toRows.filter(r => isWatermarkKind(r.getString(ki)))
      .filterNot(r => fromGens((r.getString(ki), norm(r.getString(fi)))))
    val dataCols = inserts.columns
    if (newGens.isEmpty || before.isEmpty)
      return inserts.withColumn("_change_type", lit("insert"))

    // PRUNE the retraction scan to the files the window's deletes can
    // actually touch — at 100 TB a one-file delete window must not pay
    // a full-table scan to emit a handful of retraction rows. Position
    // generations literally name their target files; equality
    // generations reach only files with seq < gen seq whose recorded
    // key range overlaps a tombstone key. Everything needed is already
    // in the manifest + the KB-sized generation files.
    val affectedNorm = changefeedAffectedNorm(spark, mFrom.schema, fromRows,
      mTo.schema, newGens)
    val fromScan = before.filter(f => affectedNorm(norm(f)))
    if (fromScan.isEmpty) // every new generation misses fromSnap's files
      return inserts.withColumn("_change_type", lit("insert"))

    val broadcastByteLimit = 256L * 1024 * 1024
    def sided(df: DataFrame, bytes: Long): DataFrame =
      if (bytes <= broadcastByteLimit) broadcast(df) else df

    // rows of the AFFECTED fromSnap files that were VISIBLE at
    // fromSnap: the merged read of exactly those files, with the
    // helper columns kept so the window's deletes can be matched
    // row-identically (a row in an unaffected file can match no new
    // delete, so restricting the scan cannot lose a retraction)
    val r0 = basePath.foldLeft(spark.read)((rd, b) => rd.option("basePath", b))
    val visible0 = r0.parquet(fromScan: _*).select(col("*"),
      col("_metadata.file_path").as("__dv_file"),
      col("_metadata.row_index").as("__dv_pos"),
      normExpr(col("_metadata.file_path")).as("__sf"))
    val fromPos = fromRows.filter(_.getString(fKi) == KindPos)
    var visible = visible0
    if (fromPos.nonEmpty) {
      val dels = sided(spark.read.parquet(fromPos.map(_.getString(fFi)): _*)
        .select(col("file_path"), col("row_index")).distinct(),
        fromPos.map(_.getLong(fBi)).sum)
      visible = visible.join(dels,
        visible("__dv_file") === dels("file_path") &&
          visible("__dv_pos") === dels("row_index"), "left_anti")
    }
    val fromEq = fromRows.filter(_.getString(fKi) == KindEq)
      .map(r => (r.getString(fFi), r.getLong(fSi), r.getLong(fBi)))
    val seqDf = broadcast(spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(
        fromRows.filter(_.getString(fKi) == KindData)
          .map(r => Row(norm(r.getString(fFi)), r.getLong(fSi))): _*)),
      StructType(Seq(StructField("__sf", StringType),
        StructField("__file_seq", LongType)))))
    def withSeq(df: DataFrame): DataFrame =
      df.join(seqDf, Seq("__sf"), "left")
        .withColumn("__file_seq", coalesce(col("__file_seq"), lit(Long.MaxValue)))
    def antiEq(df: DataFrame,
        gens: Seq[(String, Long, Long)], anti: Boolean): DataFrame = {
      val eqAll = gens.map { case (p, s, _) =>
        spark.read.parquet(p).withColumn("__eq_seq", lit(s))
      }.reduce(_.unionByName(_))
      val keyCols = eqAll.columns.filterNot(_ == "__eq_seq").toSeq
      val keys = sided(
        eqAll.groupBy(keyCols.map(col): _*).agg(max("__eq_seq").as("__eq_seq"))
          .toDF(keyCols.map(c => s"__eq_$c") :+ "__eq_seq": _*),
        gens.map(_._3).sum)
      val tagged = withSeq(df)
      val cond = keyCols.map(c => tagged(c) <=> keys(s"__eq_$c")).reduce(_ && _) &&
        keys("__eq_seq") > tagged("__file_seq")
      tagged.join(keys, cond, if (anti) "left_anti" else "left_semi")
        .drop("__file_seq")
    }
    if (fromEq.nonEmpty) visible = antiEq(visible, fromEq, anti = true)

    // window deltas, applied as SEMI joins to FIND the removed rows:
    // position pairs exactly; equality keys sequence-scoped (a key
    // also re-inserted in the window still retracts its OLD rows —
    // the matching insert row carries the new version)
    val newPosGens = newGens.filter(_.getString(ki) == KindPos)
    val posHit =
      if (newPosGens.isEmpty) visible.filter(lit(false))
      else {
        val np = sided(spark.read.parquet(newPosGens.map(_.getString(fi)): _*)
          .select(col("file_path"), col("row_index")).distinct(),
          newPosGens.map(_.getLong(bi)).sum)
        visible.join(np,
          visible("__dv_file") === np("file_path") &&
            visible("__dv_pos") === np("row_index"), "left_semi")
      }
    val newEqGens = newGens.filter(_.getString(ki) == KindEq)
      .map(r => (r.getString(fi), r.getLong(si), r.getLong(bi)))
    val eqHit =
      if (newEqGens.isEmpty) visible.filter(lit(false))
      else {
        // minus the pos-hit rows first, so a row both position- and
        // key-deleted in the window retracts exactly once
        val base =
          if (newPosGens.isEmpty) visible
          else {
            val np = spark.read.parquet(newPosGens.map(_.getString(fi)): _*)
              .select(col("file_path"), col("row_index")).distinct()
            visible.join(broadcast(np),
              visible("__dv_file") === np("file_path") &&
                visible("__dv_pos") === np("row_index"), "left_anti")
          }
        antiEq(base, newEqGens, anti = false)
      }
    val retract = posHit.unionByName(eqHit)
      .select(dataCols.map(col): _*)
    inserts.withColumn("_change_type", lit("insert"))
      .unionByName(retract.withColumn("_change_type", lit("delete")))
  }

  /** The table's commit history as a frame (Iceberg's `.snapshots`
    * metadata table, reduced): one row per snapshot with its data-file
    * census and delete-watermark census — the operator's first stop
    * for "what changed last night" before reaching for [[readAt]] or
    * [[readIncremental]]. Driver-side work is one manifest read per
    * snapshot — metadata-sized, the module's standing bound. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val rows = snapshots(spark, root).map { k =>
      val mf = manifestAt(spark, root, k)
      val kiIdx = mf.schema.fieldIndex("kind")
      val bIdx = mf.schema.fieldIndex("n_bytes")
      val rIdx = mf.schema.fieldIndex("n_rows")
      val m = mf.collect()
      val data = m.filter(_.getString(kiIdx) == KindData)
      Row(k,
        data.length.toLong,
        data.map(_.getLong(rIdx)).sum,
        data.map(_.getLong(bIdx)).sum,
        m.count(_.getString(kiIdx) == KindPos).toLong,
        m.count(_.getString(kiIdx) == KindEq).toLong)
    }
    spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(rows: _*)),
      StructType(Seq(
        StructField("snapshot", LongType),
        StructField("n_files", LongType),
        StructField("n_rows", LongType),
        StructField("n_bytes", LongType),
        StructField("n_pos_delete_gens", LongType),
        StructField("n_eq_delete_gens", LongType))))
  }

  /** The [[Compaction.EqScope]] of one snapshot — the file-sequence
    * map (normalized path → commit seq) and equality-generation
    * sequence map a sequence-scoped absorb needs. Hand this to
    * [[Compaction.compact]] when rewriting a snapshot-governed table
    * so a key re-inserted after its tombstone survives the rewrite. */
  def eqScopeAt(spark: SparkSession, root: String, snap: Long): Compaction.EqScope = {
    val m = manifestAt(spark, root, snap)
    val rows = m.collect()
    val ki = m.schema.fieldIndex("kind")
    val fi = m.schema.fieldIndex("file")
    val si = m.schema.fieldIndex("seq")
    val fileSeq = rows.filter(_.getString(ki) == KindData)
      .map(r => (norm(r.getString(fi)), r.getLong(si))).toSeq
    val genSeq = rows.filter(_.getString(ki) == KindEq)
      .map { r =>
        val genId = new Path(r.getString(fi)).getName.stripPrefix("gen=").toInt
        genId -> r.getLong(si)
      }.toMap
    Compaction.EqScope(fileSeq, genSeq)
  }

  /** Roll the table BACK to an older snapshot's state — incident
    * recovery after a bad commit (a corrupted load, a wrong erasure) —
    * by committing a NEW snapshot whose file list (and delete
    * watermark) copies `to`'s. Append-only like every other commit:
    * the bad snapshots stay readable for the post-mortem and nothing
    * is deleted until [[expire]]; history remains linear (the rollback
    * is just the next snapshot), so consumers need no branch
    * semantics. Fails loudly if any of `to`'s files has already been
    * expired from disk. */
  def rollback(spark: SparkSession, root: String, to: Long): Commit = {
    val m = manifestAt(spark, root, to)
    val fs = fsOf(spark, root)
    val files = filesAt(spark, root, to)
    // data files AND the watermark's delete generations must both
    // still exist — committing a rollback whose reads fail later is
    // strictly worse than failing here
    // removed-file tombstones are excluded: they reference files the
    // rollback target does NOT need (they were dead before `to`), and
    // those files may legitimately be expired already
    val wmDirs = m.filter(col("kind").isin(KindPos, KindEq))
      .select(col("file")).collect().map(_.getString(0)).toSeq
    val missing = (files ++ wmDirs).filterNot(f => fs.exists(new Path(f)))
    require(missing.isEmpty,
      s"cannot roll back to snapshot $to: ${missing.length} of its files/" +
        s"delete generations were expired (first: ${missing.headOption.getOrElse("")})")
    val next = latest(spark, root).get + 1
    Commit(commitManifest(spark, root, m, next), files.length, 0, 0)
  }

  // ------------------------------------------------------------------
  // BRANCH refs — WRITE-AUDIT-PUBLISH (Iceberg branches, reduced to the
  // rename-based core). A branch is its own `_branch-<name>/snap=<k>`
  // lineage SEEDED from main's latest manifest, so every existing
  // commit/read/maintenance call works on a branch unchanged by passing
  // [[branchRoot]] as the root: stage a load with commitFromFs against
  // a branch-private staging dir (OUTSIDE main's data dir — branch data
  // must be invisible to main's FS-truth appends until publish), audit
  // it with readAt/Checks on the branch, then either [[fastForward]]
  // (publish: the branch's snapshots RENAME onto main — ids and
  // sequence numbers already continue main's numbering, so nothing is
  // rewritten) or [[dropBranch]] (reject: main never saw any of it).
  // `_`-prefixed branch dirs are invisible to every main listing by the
  // module's standing convention.
  // ------------------------------------------------------------------

  /** The snapshot root of branch `name` — pass this anywhere a `root`
    * goes ([[commitFromFs]], [[readAt]], [[history]], …). */
  def branchRoot(root: String, name: String): String = s"$root/_branch-$name"

  /** Create branch `name` at main's latest snapshot: the branch lineage
    * starts as a COPY of that snapshot's manifest under the branch's
    * own ref dir (metadata-sized — data files are shared by absolute
    * path, nothing is copied). Fails loudly if the branch exists (the
    * mkdir is the atomic claim — two racers get one winner). Returns
    * the base snapshot id. */
  def createBranch(spark: SparkSession, root: String, name: String): Long = {
    require(TagName.matches(name),
      s"branch name '$name' must match ${TagName.regex}")
    val base = latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no snapshot under $root to branch from"))
    val fs = fsOf(spark, root)
    val broot = new Path(branchRoot(root, name))
    require(!fs.exists(broot),
      s"branch '$name' already exists under $root (dropBranch first)")
    require(fs.mkdirs(broot), s"could not create branch dir $broot")
    commitManifest(spark, branchRoot(root, name),
      manifestAt(spark, root, base), base)
    base
  }

  /** Branch names currently under `root`. */
  def branches(spark: SparkSession, root: String): Seq[String] = {
    val p = new Path(root)
    val fs = fsOf(spark, root)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_branch-"))
      .map(_.getPath.getName.stripPrefix("_branch-")).sorted
  }

  /** PUBLISH: fast-forward main to the branch head by RENAMING the
    * branch's post-base snapshot dirs onto main, ascending — each
    * rename lands one complete, already-committed manifest, so a
    * concurrent main reader sees a valid lineage prefix at every
    * instant. Publication is refused (loudly) unless main's latest is
    * STILL the branch's base: a main commit that landed since the
    * branch was cut means the histories diverged, and silently
    * interleaving them would let two writers each believe their own
    * lineage won (the caller re-derives on a fresh branch instead —
    * the Iceberg fast-forward contract). The branch ref dir is removed
    * after publication. Returns the published snapshot ids. */
  def fastForward(spark: SparkSession, root: String, name: String): Seq[Long] = {
    val broot = branchRoot(root, name)
    val branchSnaps = snapshots(spark, broot)
    require(branchSnaps.nonEmpty, s"no branch '$name' under $root")
    val base = branchSnaps.head
    val mainLatest = latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no snapshot under $root"))
    require(mainLatest == base,
      s"cannot fast-forward '$name': main moved to $mainLatest past the " +
        s"branch base $base (histories diverged - re-derive on a fresh branch)")
    val toPublish = branchSnaps.filter(_ > base)
    val fs = fsOf(spark, root)
    toPublish.foreach { k =>
      val src = new Path(snapDir(broot, k))
      val dst = new Path(snapDir(root, k))
      graft.core.Commit.publish(spark, src, dst) // a concurrent commit at dst throws
    }
    fs.delete(new Path(broot), true)
    toPublish
  }

  /** REJECT: drop branch `name` without publishing — main readers
    * never saw any of its commits. Only the branch's ref dir (its
    * manifests) is removed; data files staged for the branch live in
    * the caller's branch-private staging dir and are the caller's to
    * remove (they were never visible to main, so no main snapshot can
    * reference them). */
  def dropBranch(spark: SparkSession, root: String, name: String): Unit = {
    val broot = new Path(branchRoot(root, name))
    val fs = fsOf(spark, root)
    require(fs.exists(broot), s"no branch '$name' under $root")
    fs.delete(broot, true)
    ()
  }

  private val TagName = "^[A-Za-z0-9][A-Za-z0-9._-]*$".r

  /** Pin snapshot `snap` under a human NAME (Iceberg tags, reduced) —
    * "the training set for run X" is `tag(root, "run-x", k)`, and
    * reproduction reads resolve the name ([[readAtTag]]), never a
    * number someone has to remember. The pin is one empty marker file
    * `_tag-<name>=<snap>` created atomically WITHOUT overwrite: tags
    * are immutable — retagging a live name fails loudly ([[dropTag]]
    * first, deliberately two steps). The load-bearing property is
    * retention safety: [[expire]] never drops a tagged snapshot, so a
    * pinned training set cannot lose its files to a retention sweep. */
  def tag(spark: SparkSession, root: String, name: String, snap: Long): Unit = {
    require(TagName.matches(name),
      s"tag name '$name' must match ${TagName.regex}")
    require(snapshots(spark, root).contains(snap),
      s"cannot tag snapshot $snap under $root: no such snapshot")
    tags(spark, root).get(name).foreach { cur =>
      throw new IllegalArgumentException(
        s"tag '$name' already pins snapshot $cur (tags are immutable: " +
          "dropTag first, deliberately two steps)")
    }
    val fs = fsOf(spark, root)
    // create(path, overwrite = false) is the atomic claim for the
    // exact (name, snap) pair — same-pair racers collide here loudly.
    // Two racers for the SAME name and DIFFERENT snaps both pass the
    // pre-check and both create distinct marker files, so re-list
    // after creating and ROLL BACK on a duplicate: exactly one racer
    // keeps its pin, the other gets the immutability exception it
    // would have gotten had it arrived a beat later.
    fs.create(new Path(root, s"_tag-$name=$snap"), false).close()
    val dup = tagEntries(spark, root)
      .filter { case (n, s2) => n == name && s2 != snap }
    if (dup.nonEmpty) {
      fs.delete(new Path(root, s"_tag-$name=$snap"), false)
      throw new IllegalArgumentException(
        s"tag '$name' was concurrently pinned to snapshot ${dup.head._2} " +
          "(tags are immutable: dropTag first, deliberately two steps)")
    }
  }

  /** Raw `_tag-` marker listing: (name, snapshot) pairs, duplicates
    * preserved — the retention-safety source of truth ([[expire]] must
    * honor EVERY pin on disk, even one a race or crash left
    * duplicated, because a name-deduped map would silently shadow a
    * pin and let the sweep delete a pinned snapshot). */
  private def tagEntries(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val p = new Path(root)
    val fs = fsOf(spark, root)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("_tag-"))
      .map { s =>
        val rest = s.getPath.getName.stripPrefix("_tag-")
        val i = rest.lastIndexOf('=')
        rest.take(i) -> rest.drop(i + 1).toLong
      }
  }

  /** All tags under `root`: name → snapshot id. Fails LOUDLY if a name
    * is pinned twice (a crash inside [[tag]]'s rollback window): a Map
    * would silently shadow one pin, and every caller of this view
    * (reads, drops) would act on the wrong snapshot. Repair is manual
    * and explicit — delete the unwanted `_tag-` marker file. */
  def tags(spark: SparkSession, root: String): Map[String, Long] = {
    val entries = tagEntries(spark, root)
    val dups = entries.groupBy(_._1).filter(_._2.length > 1)
    require(dups.isEmpty,
      s"duplicate tag pins under $root: " +
        dups.map { case (n, es) =>
          s"'$n' -> {${es.map(_._2).sorted.mkString(",")}}"
        }.mkString("; ") +
        " (a crashed tag() race left both markers; delete the unwanted " +
        "_tag- file to repair)")
    entries.toMap
  }

  /** Remove a tag (the snapshot becomes expirable again). Loud on an
    * unknown name — deleting a pin that was never there usually means
    * the caller is about to expire the wrong table. */
  def dropTag(spark: SparkSession, root: String, name: String): Unit = {
    val snap = tags(spark, root).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' under $root"))
    fsOf(spark, root).delete(new Path(root, s"_tag-$name=$snap"), false)
    ()
  }

  /** [[readAt]] resolved through a tag name. */
  def readAtTag(spark: SparkSession, root: String, name: String,
      basePath: Option[String] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val snap = tags(spark, root).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' under $root"))
    readAt(spark, root, snap, basePath, mergeSchema)
  }

  /** Retention: drop every snapshot older than `keepFrom` and delete
    * the data files AND delete-generation dirs ONLY those snapshots
    * reference (anything listed by a surviving snapshot survives).
    * This is the ONE destructive call in the module — everything
    * before it is append-only — and the reason a crashed maintenance
    * job can never strand readers: expiry is explicit, never implied
    * by a commit. Retiring delete generations here (not at absorb
    * time) is what lets [[commitRewrite]] drop a generation from the
    * new watermark while older snapshots still merge against it.
    * TAGGED snapshots are never dropped regardless of `keepFrom` (the
    * Iceberg ref rule): a pinned training set survives every sweep
    * until its tag is dropped. */
  def expire(spark: SparkSession, root: String, keepFrom: Long): ExpireReport = {
    val all = snapshots(spark, root)
    // raw marker listing, NOT the name-deduped tags() view: if a
    // crashed race ever left one name pinning two snapshots, BOTH
    // pins must protect their snapshots from the sweep
    val tagged = tagEntries(spark, root).map(_._2).toSet
    val (drop, keep) = all.partition(s => s < keepFrom && !tagged(s))
    require(keep.nonEmpty, s"expire($keepFrom) would drop every snapshot")
    if (drop.isEmpty) return ExpireReport(0, 0, 0L)
    val fs = fsOf(spark, root)
    def entries(s: Long): Seq[(String, String, Long)] = {
      val m = manifestAt(spark, root, s)
      // removed-file tombstones are bookkeeping, not references: they
      // must neither PROTECT a file (a kept manifest's tombstone does
      // not mean the file is needed) nor TARGET one for deletion (the
      // same path's data row already does, exactly once)
      m.filter(col("kind") =!= KindRemoved)
        .select(col("kind"), col("file"), col("n_bytes")).collect()
        .map(r => (r.getString(0), norm(r.getString(1)), r.getLong(2))).toSeq
    }
    val referenced = keep.flatMap(s => entries(s).map(e => (e._1, e._2))).toSet
    val victims = drop.flatMap(entries).distinct
      .filterNot { case (k, p, _) => referenced((k, p)) }
    var freed = 0L
    var deleted = 0
    victims.foreach { case (kind, p, bytes) =>
      // data files are single files; delete generations are dirs
      if (fs.delete(new Path(p), kind != KindData)) { deleted += 1; freed += bytes }
    }
    drop.foreach(s => fs.delete(new Path(snapDir(root, s)), true))
    ExpireReport(drop.length, deleted, freed)
  }
}
