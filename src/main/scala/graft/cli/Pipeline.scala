package graft.cli

import org.apache.spark.sql.SparkSession
import graft.core.GraftSession
import graft.ops.{CleanHourly, DailyTmax, Features}
import graft.eval.{Forecaster, Passthrough, Persistence, Ridge, Runner}
import graft.sources.{Ingest, Sinks}

/** Command-line entry points mirroring the reference's scripts/ layer —
  * what a temp-data-pipeline user runs today, re-expressed over the
  * Spark engine:
  *
  *   scripts/run_pipeline.py      → Pipeline ingest-clean <isdCsv> <station> <outDir>
  *   scripts/build_daily_tmax.py  → Pipeline build-daily <hourlyDir> <tz> <outDir>
  *   (features stage)             → Pipeline build-train <forecastDir> <truthDir> <outDir>
  *   scripts/eval_daily_tmax.py   → Pipeline eval <trainDir> <runDir> [models...]
  *
  * Driver-side fetch/caching (HTTP, S6) stays outside the engine —
  * hand the downloaded files to ingest-clean.
  */
object Pipeline {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
    try run(spark, args.toList)
    finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "ingest-clean" :: isdCsv :: station :: outDir :: Nil =>
      val cleaned = CleanHourly(Ingest.readIsdCsv(spark, isdCsv, station))
      Sinks.writeHourlyObs(cleaned, outDir)
      println(s"[graft] wrote ${spark.read.parquet(outDir).count()} clean hourly rows to $outDir")

    case "ingest-era5" :: ncPath :: station :: lat :: lon :: outDir :: Nil =>
      // real NetCDF classic parse (sources.NetCdf3) + nearest-cell
      // extract, then the same clean/sink path as the ISD route
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(ncPath))
      val hourly = Ingest.fromEra5NetCdf(spark, bytes, station, lat.toDouble, lon.toDouble)
      val cleaned = CleanHourly(hourly)
      Sinks.writeHourlyObs(cleaned, outDir)
      println(s"[graft] wrote ${spark.read.parquet(outDir).count()} clean hourly rows to $outDir")

    case "build-daily" :: hourlyDir :: tz :: outDir :: Nil =>
      val daily = graft.schemas.Checks.validateDailyTmax(
        DailyTmax(spark.read.parquet(hourlyDir), tz))
      Sinks.writeDaily(daily, outDir)
      println(s"[graft] wrote ${spark.read.parquet(outDir).count()} daily rows to $outDir")

    case "build-train" :: forecastDir :: truthDir :: outDir :: Nil =>
      val train = Features.buildTrainTable(
        spark.read.parquet(forecastDir), spark.read.parquet(truthDir))
      train.write.mode("overwrite").parquet(outDir)
      println(s"[graft] wrote ${spark.read.parquet(outDir).count()} train rows to $outDir")

    case "eval" :: trainDir :: runDir :: modelNames =>
      val train = spark.read.parquet(trainDir)
      val models: Seq[Forecaster] =
        (if (modelNames.isEmpty) List("ridge", "persistence", "passthrough") else modelNames).map {
          case "passthrough" => new Passthrough()
          case "persistence" => new Persistence()
          case "ridge" => new Ridge(
            Seq("tmax_pred_f", "sin_doy", "cos_doy", "bias_7d", "bias_14d"),
            "tmax_actual_f", alpha = 1.0)
          case other => throw new IllegalArgumentException(s"unknown model: $other")
        }
      val ranked = Runner.runMultiModel(train, models, runDir)
      ranked.zipWithIndex.foreach { case (r, i) =>
        println(f"[graft] #${i + 1} ${r.name}%-20s mae=${r.metrics.mae}%.4f rmse=${r.metrics.rmse}%.4f bias=${r.metrics.bias}%+.4f")
      }

    case "eval-config" :: trainDir :: runDir :: configPath :: Nil =>
      // config-driven eval (eval/config.py contract): load + validate
      // the frozen config, SCOPE the data to it (stations, date range,
      // coverage, lead hours — eval/data.py:160-190), build the
      // configured forecaster, and dump the config into the run dir so
      // config.json describes the metrics actually computed
      val cfg = graft.eval.RunConfig.load(configPath)
      if (cfg.split.splitType == "walk_forward")
        System.err.println("[graft] WARNING: walk_forward config accepted, but the multi-model " +
          "runner evaluates the static split protocol (reference-runner parity); " +
          "use ops.Splits.walkForward for fold-based evaluation")
      val data = cfg.applyScope(spark.read.parquet(trainDir))
      require(!data.isEmpty,
        s"No data remaining after config filters (stations=${cfg.stationIds.mkString(",")}, " +
          s"dates=${cfg.startDateLocal}..${cfg.endDateLocal})")
      // the full RunConfig is the frozen config of record for this run
      val ranked = Runner.runMultiModel(data, Seq(cfg.buildForecaster()), runDir,
        cfg.runnerConfig, frozenConfigJson = Some(cfg.toJson))
      ranked.foreach(r =>
        println(f"[graft] ${r.name}%-20s mae=${r.metrics.mae}%.4f rmse=${r.metrics.rmse}%.4f"))

    case "list-runs" :: rootDir :: Nil =>
      val runs = Runner.listRuns(rootDir)
      if (runs.isEmpty) println(s"[graft] no runs under $rootDir")
      runs.foreach(r => println(
        s"[graft] ${r.runId}  multi=${r.isMultiModel}  models=${r.modelNames.mkString(",")}"))

    case "dedup-docs" :: docsDir :: outDir :: Nil =>
      val docs = spark.read.parquet(docsDir)
      val labeled = graft.ops.DedupDocs(docs)
      val survivors = docs.join(
        labeled.filter(org.apache.spark.sql.functions.col("is_survivor"))
          .select("doc_id"), "doc_id")
      // sorted production layout: doc_id range scans (incremental batch
      // joins, spot lookups) prune files and row groups from footer stats
      Sinks.writeSortedBy(survivors, s"$outDir/docs", Seq("doc_id"))
      Sinks.writeSortedBy(labeled, s"$outDir/groups", Seq("doc_id"))
      val total = docs.count(); val kept = spark.read.parquet(s"$outDir/docs").count()
      println(s"[graft] dedup: kept $kept of $total docs (${total - kept} duplicates) → $outDir")

    case "dedup-batch" :: corpusDir :: batchDir :: outDir :: Nil =>
      // steady-state ingest: admit a new batch against the kept corpus
      val corpus = spark.read.parquet(corpusDir)
      val batch = spark.read.parquet(batchDir)
      // status is written FIRST and re-read to derive the admitted set:
      // the labeling subtree (corpus-wide hash/band/Jaccard joins) is
      // expensive and would otherwise recompute per downstream action
      graft.ops.DedupDocs.incremental(corpus, batch)
        .write.mode("overwrite").parquet(s"$outDir/status")
      val labeled = spark.read.parquet(s"$outDir/status")
      batch.join(
          labeled.filter(org.apache.spark.sql.functions.col("status") === "admitted")
            .select("doc_id"), "doc_id")
        .write.mode("overwrite").parquet(s"$outDir/docs")
      val byStatus = labeled
        .groupBy("status").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"[graft] dedup-batch: $byStatus → $outDir")

    case "dedup-index" :: corpusDir :: indexDir :: Nil =>
      // one-time (or compaction) index build for a kept corpus: the
      // write-once derivable columns every future batch admission joins
      val corpus = spark.read.parquet(corpusDir)
      graft.ops.DedupIndex.write(corpus, indexDir)
      val n = corpus.count()
      val fps = graft.ops.DedupIndex.read(spark, indexDir).fps.count()
      println(s"[graft] dedup-index: indexed $n corpus docs ($fps fingerprints) → $indexDir")

    case "dedup-admit" :: indexDir :: batchDir :: outDir :: Nil =>
      // steady-state ingest against the STORED index: the corpus text is
      // never touched — admission joins fps/bands/grams tables, then the
      // admitted docs' index rows are APPENDED so the next batch sees them
      val batch = spark.read.parquet(batchDir)
      val idx = graft.ops.DedupIndex.read(spark, indexDir)
      // re-run guard: doc_ids already in the index mean this batch (or
      // part of it) was admitted before — a silent re-run would
      // reclassify those docs corpus_exact and overwrite the previous
      // run's admitted output with an empty set. (A crash BETWEEN the
      // writes below is safe to re-run: the index append is last, so an
      // incomplete run never trips this and recomputes identically.)
      val readmitted = batch.select("doc_id")
        .join(idx.fps.select("doc_id"), "doc_id").count()
      require(readmitted == 0,
        s"$readmitted batch doc_ids already indexed at $indexDir — batch was " +
          "admitted before; use a fresh batch/outDir or rebuild with dedup-index")
      graft.ops.DedupDocs.incrementalIndexed(idx, batch)
        .write.mode("overwrite").parquet(s"$outDir/status")
      val labeled = spark.read.parquet(s"$outDir/status")
      batch.join(
          labeled.filter(org.apache.spark.sql.functions.col("status") === "admitted")
            .select("doc_id"), "doc_id")
        .write.mode("overwrite").parquet(s"$outDir/docs")
      graft.ops.DedupIndex.append(spark.read.parquet(s"$outDir/docs"), indexDir)
      val byStatus = labeled
        .groupBy("status").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"[graft] dedup-admit: $byStatus → $outDir (index updated)")

    case "dedup-compact" :: indexDir :: Nil =>
      // offline maintenance: merge appended files back into
      // fully-sorted tables so footer pruning holds index-wide again
      graft.ops.DedupIndex.compact(spark, indexDir)
      println(s"[graft] dedup-compact: re-sorted index tables at $indexDir")

    case "ivf-index" :: embDir :: k :: indexDir :: Nil =>
      // ANN index build: fit the coarse quantizer, store centroids +
      // cell-sorted members (the DedupIndex pattern for similarity)
      val emb = spark.read.parquet(embDir)
      graft.ops.IvfIndex.write(emb, indexDir, k = k.toInt)
      println(s"[graft] ivf-index: ${emb.count()} vectors in $k cells → $indexDir")

    case "ivf-append" :: indexDir :: embDir :: Nil =>
      // per-batch maintenance: new vectors assigned with the STORED
      // centroids (cell space is index state; refit = rebuild)
      val emb = spark.read.parquet(embDir)
      graft.ops.IvfIndex.append(emb, indexDir)
      println(s"[graft] ivf-append: +${emb.count()} vectors → $indexDir")

    case "ivf-topk" :: indexDir :: queriesDir :: k :: outDir :: Nil =>
      // probe from disk: (query_id, embedding) frame in, per-query
      // exact-cosine top-k out; only probed cells are decoded
      graft.ops.IvfIndex
        .topk(spark, indexDir, spark.read.parquet(queriesDir), topK = k.toInt)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] ivf-topk: top-$k neighbors → $outDir")

    case "profile-build" :: srcDir :: segCol :: valCol :: bins :: lo :: width :: outDir :: Nil =>
      // reference-profile build for the drift gate: one scan, a
      // sketch-sized (seg, bin, n) table out; fold later batches in
      // with Profile.mergeCells instead of re-reading history
      val cells = graft.ops.Profile.cells(
        spark.read.parquet(srcDir), segCol, valCol, bins.toInt, lo.toDouble, width.toDouble)
      cells.coalesce(1).write.mode("overwrite").parquet(outDir)
      println(s"[graft] profile-build: ${cells.count()} cells → $outDir")

    case "drift-check" :: refDir :: curDir :: segCol :: valCol :: bins :: lo :: width :: Nil =>
      // batch-mode drift check: profile the candidate table and score
      // it against the stored reference (the streaming gate's batch
      // twin); prints one line per segment
      val cur = graft.ops.Profile.cells(
        spark.read.parquet(curDir), segCol, valCol, bins.toInt, lo.toDouble, width.toDouble)
      graft.ops.Profile.psi(spark.read.parquet(refDir), cur, bins.toInt)
        .orderBy("seg").collect()
        .foreach(r => println(s"[graft] drift ${r.get(0)}: n_ref=${r.get(1)} " +
          s"n_cur=${r.get(2)} psi=${"%.6f".format(r.getDouble(3))}"))

    case "bpe-train" :: docsDir :: nMerges :: outDir :: Nil =>
      // tokenizer artifact build: one corpus word-count shuffle, driver
      // merge loop, then the merge list persists as the model of record
      // (rank order IS the model — encode replays it by rank)
      val docs = spark.read.parquet(docsDir)
      val merges = graft.ops.BpeTrain.train(docs, "text", nMerges.toInt)
      import spark.implicits._
      merges.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
        .toDF("rank", "left", "right")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/merges")
      // no corpus re-scan here: encoding every doc just to log a token
      // count would double the job; token stats are a query
      // (text_bpe_tokens), not a training side effect
      println(s"[graft] bpe-train: ${merges.size} merges → $outDir/merges")

    case "write-zorder" :: inDir :: xCol :: yCol :: outDir :: Nil =>
      // production 2-D layout: one sort key, row-group pruning on BOTH
      // query dimensions (ops/ZOrder; the multi-column complement of
      // the sorted layouts the other sinks default to)
      val df = spark.read.parquet(inDir)
      graft.ops.ZOrder.writeZOrderedBy(df, outDir, xCol, yCol)
      println(s"[graft] wrote z-ordered ($xCol, $yCol) layout → $outDir")

    case "write-zorder3" :: inDir :: xCol :: yCol :: zCol :: outDir :: Nil =>
      // 3-D layout for (time, entity, domain) fact tables — ∛-selectivity
      // pruning on each of the three dims
      val df = spark.read.parquet(inDir)
      graft.ops.ZOrder.writeZOrdered3By(df, outDir, xCol, yCol, zCol)
      println(s"[graft] wrote z-ordered ($xCol, $yCol, $zCol) layout → $outDir")

    case "write-hilbert" :: inDir :: xCol :: yCol :: outDir :: Nil =>
      // locality-preserving 2-D layout: the Hilbert walk's 4-neighbor
      // steps cover tighter rectangles than Morton (ops/HilbertOrder,
      // native hilbert2 kernel)
      graft.ops.HilbertOrder.writeHilbertOrderedBy(
        spark.read.parquet(inDir), outDir, xCol, yCol)
      println(s"[graft] wrote hilbert-ordered ($xCol, $yCol) layout → $outDir")

    case "write-hilbert3" :: inDir :: xCol :: yCol :: zCol :: outDir :: Nil =>
      // 3-D locality layout (native hilbert3 Skilling kernel) — the
      // Hilbert completion of write-zorder3
      graft.ops.HilbertOrder.writeHilbert3OrderedBy(
        spark.read.parquet(inDir), outDir, xCol, yCol, zCol)
      println(s"[graft] wrote hilbert-ordered ($xCol, $yCol, $zCol) layout → $outDir")

    case "manifest-build" :: dataDir :: colsCsv :: manifestDir :: Nil =>
      // file-level min/max data-skipping side table (ops/Manifest)
      graft.ops.Manifest.write(spark, dataDir, manifestDir, colsCsv.split(',').toSeq)
      val n = spark.read.parquet(manifestDir).count()
      println(s"[graft] manifest-build: $n file rows at $manifestDir")

    case "manifest-refresh" :: dataDir :: colsCsv :: manifestDir :: Nil =>
      // incremental maintenance: stats only for never-seen files,
      // vanished files' rows dropped
      val delta = graft.ops.Manifest.refresh(
        spark, dataDir, manifestDir, colsCsv.split(',').toSeq)
      println(s"[graft] manifest-refresh: +${delta.added} −${delta.removed} " +
        s"(kept ${delta.kept}) at $manifestDir")

    case "compact" :: dataDir :: targetMb :: outDir :: Nil =>
      // FFD small-file compaction (ops/Compaction): plan on metadata,
      // rewrite multi-file groups concurrently, keep compact singletons
      val groups = graft.ops.Compaction.plan(
        spark, dataDir, targetMb.toLong * 1024 * 1024)
      val rep = graft.ops.Compaction.compact(spark, groups, outDir)
      println(s"[graft] compact: ${rep.filesRewritten} files → " +
        s"${rep.groupsRewritten} groups (${rep.bytesRewritten / 1024 / 1024} MB " +
        s"rewritten, ${rep.filesKept} kept in place) → $outDir")

    case "erase" :: dataDir :: manifestDir :: keyCol :: keysCsv :: Nil =>
      // targeted GDPR-batch delete (ops/Erasure): plan on manifest
      // metadata, rewrite ONLY span-matching files in place, then
      // refresh the manifest (the documented post-erase step)
      val keys = keysCsv.split(',').toSeq.map(_.trim.toLong)
      val p = graft.ops.Erasure.plan(spark, manifestDir, keyCol, keys)
      val rep = graft.ops.Erasure.erase(spark, p)
      val delta = graft.ops.Manifest.refresh(spark, dataDir, manifestDir, Seq(keyCol))
      println(s"[graft] erase: ${rep.rowsDeleted} rows purged — " +
        s"${rep.filesRewritten} files rewritten, ${rep.filesRemoved} removed, " +
        s"${rep.filesUntouched} untouched; manifest +${delta.added} −${delta.removed}")

    case "vacuum" :: dataDir :: manifestDir :: minAgeHours :: Nil =>
      // orphan-file GC (ops/Vacuum): delete unreferenced bytes older
      // than the grace period; never mutates the manifest
      val rep = graft.ops.Vacuum.vacuum(spark, dataDir, manifestDir,
        minAgeMs = minAgeHours.toLong * 3600 * 1000)
      println(s"[graft] vacuum: ${rep.deleted} orphans deleted " +
        s"(${rep.bytesFreed / 1024} KB freed), ${rep.keptYoung} kept young")

    case "table-health" :: dataDir :: targetMb :: Nil =>
      // partition-health audit (ops/TableHealth): metadata only —
      // small-file fraction, size skew, needs_compaction per partition
      graft.ops.TableHealth.audit(spark, dataDir, targetMb.toLong * 1024 * 1024)
        .show(1000, truncate = false)

    case "export-shards" :: docsDir :: tokenBudget :: outDir :: Nil =>
      // token-budgeted training-shard export (ops/ExportShards):
      // concat-and-chunk assignment + per-shard manifest
      val m = graft.ops.ExportShards.export(
        spark.read.parquet(docsDir), outDir, tokenBudget.toLong)
      val rows = m.collect()
      println(s"[graft] export-shards: ${rows.length} shards, " +
        s"${rows.map(_.getLong(1)).sum} docs, " +
        s"${rows.map(_.getLong(2)).sum} tokens → $outDir")

    case "write-bloom" :: inDir :: colNdvCsv :: outDir :: Nil =>
      // bloom-filtered layout for point lookups on high-cardinality
      // unclustered keys (sorting/z-order can't serve them): col:ndv
      // pairs, e.g. "doc_hash:5000000,user_id:200000"
      val ndv = colNdvCsv.split(',').map { kv =>
        val Array(c, n) = kv.split(':'); c -> n.toLong
      }.toMap
      Sinks.writeWithBloom(spark.read.parquet(inDir), outDir, ndv)
      println(s"[graft] wrote bloom-filtered layout (${ndv.keys.mkString(", ")}) → $outDir")

    case "quantiles" :: inDir :: valCol :: qsCsv :: Nil =>
      // exact order statistics by histogram descent (ops/Selection) —
      // no global sort, no sketch error
      val qs = qsCsv.split(',').toIndexedSeq.map(_.toDouble)
      val vs = graft.ops.Selection.quantilesDisc(spark.read.parquet(inDir), valCol, qs)
      val body = qs.zip(vs).map { case (q, v) => s""""p${(q * 100).round}":$v""" }
      println(s"""{"column":"$valCol",${body.mkString(",")}}""")

    case "snapshot-merge" :: changesDir :: snapshotDir :: ckptDir :: keyCsv :: ordCsv :: Nil =>
      // streaming CDC maintenance: drain whatever change files landed in
      // changesDir and fold them into the keyed snapshot (one upsert
      // merge per micro-batch, versioned dirs + atomic pointer swap);
      // re-runs pick up only new files via the checkpoint
      val schema = spark.read.parquet(changesDir).schema
      val changes = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64).parquet(changesDir)
      graft.streaming.Streams.snapshotMergeStream(
          changes, snapshotDir, ckptDir,
          keyCsv.split(',').toSeq, ordCsv.split(',').toSeq)
        .awaitTermination()
      val n = graft.streaming.Streams.readSnapshot(spark, snapshotDir)
        .map(_.count()).getOrElse(0L)
      println(s"[graft] snapshot-merge: snapshot at $snapshotDir now holds $n keys")

    case "agg-build" :: factDir :: keysCsv :: sumsCsv :: mmCsv :: outDir :: Nil =>
      // materialize the stored aggregate ops/IncrementalAgg maintains;
      // empty-string csv → none of that column class
      val spec = graft.ops.IncrementalAgg.Spec(
        keysCsv.split(',').toSeq.filter(_.nonEmpty),
        sumsCsv.split(',').toSeq.filter(_.nonEmpty),
        mmCsv.split(',').toSeq.filter(_.nonEmpty))
      graft.ops.IncrementalAgg.storedAggregate(spark.read.parquet(factDir), spec)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] agg-build: ${spark.read.parquet(outDir).count()} group rows at $outDir")

    case "agg-maintain" :: aggDir :: changesDir :: factDir :: keysCsv :: sumsCsv :: mmCsv :: outDir :: Nil =>
      // fold a signed change feed (+1/-1 in column `w`) into the stored
      // aggregate; the post-change fact is read ONLY for min/max of
      // delta-touched groups (key-pruned semi join)
      val spec = graft.ops.IncrementalAgg.Spec(
        keysCsv.split(',').toSeq.filter(_.nonEmpty),
        sumsCsv.split(',').toSeq.filter(_.nonEmpty),
        mmCsv.split(',').toSeq.filter(_.nonEmpty))
      graft.ops.IncrementalAgg.maintain(
          spark.read.parquet(aggDir), spark.read.parquet(changesDir),
          spark.read.parquet(factDir), spec)
        .write.mode("overwrite").parquet(outDir)
      println(s"[graft] agg-maintain: ${spark.read.parquet(outDir).count()} group rows at $outDir")

    case other =>
      System.err.println(
        s"""Unknown command: ${other.mkString(" ")}
           |Usage:
           |  Pipeline ingest-clean <isdCsv> <station> <outHourlyDir>
           |  Pipeline ingest-era5 <ncFile> <station> <lat> <lon> <outHourlyDir>
           |  Pipeline build-daily <hourlyDir> <tz> <outDailyDir>
           |  Pipeline build-train <forecastDir> <truthDir> <outTrainDir>
           |  Pipeline eval <trainDir> <runDir> [passthrough|persistence|ridge ...]
           |  Pipeline eval-config <trainDir> <runDir> <configJson>
           |  Pipeline list-runs <runsRootDir>
           |  Pipeline dedup-docs <docsParquetDir> <outDir>
           |  Pipeline dedup-batch <corpusParquetDir> <batchParquetDir> <outDir>
           |  Pipeline dedup-index <corpusParquetDir> <indexDir>
           |  Pipeline dedup-admit <indexDir> <batchParquetDir> <outDir>
           |  Pipeline dedup-compact <indexDir>
           |  Pipeline bpe-train <docsParquetDir> <nMerges> <outDir>
           |  Pipeline write-zorder <inParquetDir> <xCol> <yCol> <outDir>
           |  Pipeline write-zorder3 <inParquetDir> <xCol> <yCol> <zCol> <outDir>
           |  Pipeline write-hilbert <inParquetDir> <xCol> <yCol> <outDir>
           |  Pipeline write-hilbert3 <inParquetDir> <xCol> <yCol> <zCol> <outDir>
           |  Pipeline manifest-build <dataDir> <cols,csv> <manifestDir>
           |  Pipeline manifest-refresh <dataDir> <cols,csv> <manifestDir>
           |  Pipeline compact <dataDir> <targetMb> <outDir>
           |  Pipeline erase <dataDir> <manifestDir> <keyCol> <keys,csv>
           |  Pipeline vacuum <dataDir> <manifestDir> <minAgeHours>
           |  Pipeline table-health <dataDir> <targetMb>
           |  Pipeline export-shards <docsParquetDir> <tokenBudget> <outDir>
           |  Pipeline write-bloom <inParquetDir> <col:ndv,csv> <outDir>
           |  Pipeline quantiles <inParquetDir> <valueCol> <qs,csv e.g. 0.5,0.99>
           |  Pipeline snapshot-merge <changesDir> <snapshotDir> <checkpointDir> <keyCols,csv> <orderCols,csv>
           |  Pipeline agg-build <factDir> <keyCols,csv> <sumCols,csv> <minMaxCols,csv> <outAggDir>
           |  Pipeline agg-maintain <aggDir> <signedChangesDir> <factDir> <keyCols,csv> <sumCols,csv> <minMaxCols,csv> <outAggDir>""".stripMargin)
      sys.exit(2)
  }
}
