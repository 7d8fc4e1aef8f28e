package graft.core

import java.nio.file.Files

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.functions._

import graft.ops.{DedupIndex, DeletionVectors, Erasure, IvfIndex, SearchIndex, SearchIndexRefresh, Snapshots}
import graft.streaming.Streams

/** The crash-safe commit: the primitive's own contract, every ported
  * writer crashed at each of its commit mutations (and once inside its
  * Spark write), and every layout written before generations existed
  * still opening, appending and compacting. */
class CommitSpec extends CrashChecks {
  import spark.implicits._

  private def hc = spark.sparkContext.hadoopConfiguration
  private def local = new Path("/").getFileSystem(hc)
  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
  private def exists(p: String) = new Path(p).getFileSystem(hc).exists(new Path(p))
  private def names(dir: String): Set[String] = {
    val p = new Path(dir)
    p.getFileSystem(hc).listStatus(p).map(_.getPath.getName).toSet
  }

  /** Move the live generation's tables to the top of `dir` and drop
    * the pointer: the layout every writer produced before generations. */
  private def flatten(dir: String): Unit = {
    val live = new Path(Commit.current(spark, dir))
    names(live.toString).filterNot(_.startsWith("_")).foreach { n =>
      assert(local.rename(new Path(live, n), new Path(dir, n)))
    }
    local.delete(live, true)
    local.delete(new Path(dir, "_CURRENT"), false)
    assert(Commit.currentGeneration(spark, dir).isEmpty)
  }

  private val docsA = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "completely different words about spark engines and parquet files here"))
    .toDF("doc_id", "text")
  private val docsB = Seq(
    (3L, "yet another unrelated document discussing weather stations and sensors"),
    (4L, "a fourth document about streaming state stores and checkpoints"))
    .toDF("doc_id", "text")

  private def dedupView(dir: String) = {
    val f = DedupIndex.read(spark, dir)
    (f.fps.select("doc_id").as[Long].collect().sorted.toSeq,
      f.bands.count(), f.grams.count(), f.rowsPerBand)
  }

  // ------------------------------------------------------------ the primitive

  test("publish refuses an existing destination, where FileSystem.rename nests") {
    val d = tmp("graft_publish")
    Seq("a", "b", "c").foreach(n => local.mkdirs(new Path(s"$d/$n/part")))
    // the hazard: Hadoop's rename onto an existing directory moves the
    // source inside it and reports success
    assert(local.rename(new Path(s"$d/a"), new Path(s"$d/b")))
    assert(exists(s"$d/b/a"))
    intercept[FileAlreadyExistsException](
      Commit.publish(spark, new Path(s"$d/c"), new Path(s"$d/b")))
    assert(exists(s"$d/c/part") && !exists(s"$d/b/c"))
    Commit.publish(spark, new Path(s"$d/c"), new Path(s"$d/v0"))
    assert(exists(s"$d/v0/part") && !exists(s"$d/c"))
  }

  test("current resolves the pointer, then the highest complete generation, then the directory") {
    val d = tmp("graft_current")
    assert(Commit.current(spark, d) == d, "no generation: the directory is its own")
    val g0 = Commit.newGeneration(spark, d)(st => Seq(1).toDF("x").write.parquet(s"$st/t"))
    val g1 = Commit.newGeneration(spark, d)(st => Seq(2).toDF("x").write.parquet(s"$st/t"))
    assert((g0, g1) == (0L, 1L))
    assert(Commit.current(spark, d) == s"$d/v1")
    assert(names(d) == Set("v1", "_CURRENT"), s"superseded state left behind: ${names(d)}")
    // an incomplete generation above the pointer is not current, with
    // or without the pointer
    local.mkdirs(new Path(s"$d/v7"))
    assert(Commit.current(spark, d) == s"$d/v1")
    local.delete(new Path(s"$d/_CURRENT"), false)
    assert(Commit.current(spark, d) == s"$d/v1")
    // the next commit lands above every generation and sweeps the rest
    Commit.newGeneration(spark, d)(st => Seq(3).toDF("x").write.parquet(s"$st/t"))
    assert(names(d) == Set("v8", "_CURRENT"))
    assert(spark.read.parquet(s"${Commit.current(spark, d)}/t").as[Int].collect().toSeq == Seq(3))
  }

  test("a failed generation write leaves no stage and the previous generation live") {
    val d = tmp("graft_failed_gen")
    Commit.newGeneration(spark, d)(st => Seq(1).toDF("x").write.parquet(s"$st/t"))
    intercept[IllegalStateException](Commit.newGeneration(spark, d) { st =>
      Seq(2).toDF("x").write.parquet(s"$st/t")
      throw new IllegalStateException("writer failed")
    })
    assert(names(d) == Set("v0", "_CURRENT"))
  }

  // ------------------------------------------------------- every crash window

  test("DedupIndex.write: every crash reads the previous index or the next; a retry lands once") {
    val template = tmp("graft_crash_didx")
    DedupIndex.write(docsA, template)
    val n = everyCrash(() => faultyCopy(template))(DedupIndex.write(docsB, _))(dedupView)
    info(s"$n commit mutations crashed")
  }

  test("DedupIndex.compact: every crash reads every fingerprint exactly once") {
    val template = tmp("graft_crash_dcompact")
    DedupIndex.write(docsA, template)
    DedupIndex.append(docsB, template)
    everyCrash(() => faultyCopy(template))(DedupIndex.compact(spark, _))(dedupView)
  }

  test("SearchIndexRefresh: every crash reads df and n from the same refresh") {
    val template = tmp("graft_crash_sidx")
    SearchIndex.build(docsA, template)
    // the postings append precedes the commit and is not part of it, so
    // a landed refresh is not retried and postings are not observed
    everyCrash(() => faultyCopy(template), retryIfLanded = false)(
      SearchIndexRefresh.refresh(docsB, _)) { dir =>
      val live = Commit.current(spark, dir)
      val df = spark.read.parquet(s"$live/terms").agg(sum("df")).head.getDouble(0)
      val st = spark.read.parquet(s"$live/stats").head
      (df, st.getAs[Double]("n"), st.getAs[Double]("sum_dl"))
    }
  }

  test("DeletionVectors: every crash reads the previous delete set or the next") {
    val template = tmp("graft_crash_dv")
    Seq(1L, 2L, 3L, 4L).toDF("k").write.parquet(s"$template/data")
    DeletionVectors.addKeyDeletes(spark, s"$template/eq", Seq(1L).toDF("k"))
    everyCrash(() => faultyCopy(template))(dir =>
      DeletionVectors.addKeyDeletes(spark, s"$dir/eq", Seq(2L).toDF("k"))) { dir =>
      DeletionVectors.readWithKeyDeletes(spark, s"$dir/data", s"$dir/eq")
        .as[Long].collect().sorted.toSeq
    }
  }

  test("DeletionVectors: two writers racing for one generation both land") {
    FaultyFs.install(spark)
    val dir = FaultyFs.tempDir("graft_dv_race")
    Seq(1L, 2L, 3L, 4L).toDF("k").write.parquet(s"$dir/data")
    // writer B commits the generation writer A has picked, just before
    // A publishes it
    FaultyFs.arm(1) { _ =>
      DeletionVectors.addKeyDeletes(spark, s"$dir/eq", Seq(2L).toDF("k"))
    }
    val committed =
      try DeletionVectors.addKeyDeletes(spark, s"$dir/eq", Seq(1L).toDF("k"))
      finally assert(FaultyFs.disarm()._2.isDefined, "the race never ran")
    assert(committed == 1L)
    val left = DeletionVectors.readWithKeyDeletes(spark, s"$dir/data", s"$dir/eq")
      .as[Long].collect().sorted.toSeq
    assert(left == Seq(3L, 4L), s"a racing writer's deletes came back: $left")
  }

  test("snapshot store: every crash reads the previous snapshot or the next") {
    val template = tmp("graft_crash_snap")
    Streams.applySnapshotBatch(spark, template,
      Seq((1L, 1L, "a")).toDF("k", "ver", "payload"), 0L, Seq("k"), Seq("ver"))
    val b1 = Seq((1L, 2L, "b"), (2L, 1L, "c")).toDF("k", "ver", "payload")
    everyCrash(() => faultyCopy(template))(
      Streams.applySnapshotBatch(spark, _, b1, 1L, Seq("k"), Seq("ver"))) { dir =>
      Streams.readSnapshot(spark, dir).get.as[(Long, Long, String)].collect().sorted.toSeq
    }
  }

  test("Snapshots.commitFromFs: every crash reads the previous snapshot or the next") {
    def fresh(): String = {
      FaultyFs.install(spark)
      val dir = FaultyFs.tempDir("graft_crash_snaps")
      Seq(1L, 2L).toDF("k").coalesce(1).write.parquet(s"$dir/data")
      Snapshots.commitFromFs(spark, s"$dir/data", s"$dir/snaps", Seq("k"))
      Seq(3L).toDF("k").coalesce(1).write.mode("append").parquet(s"$dir/data")
      dir
    }
    // the snapshot id is observed too: a retry after a landed commit
    // finds nothing changed and returns that snapshot, so the history
    // holds exactly one landing
    everyCrash(() => fresh())(dir =>
      Snapshots.commitFromFs(spark, s"$dir/data", s"$dir/snaps", Seq("k"))) { dir =>
      val snap = Snapshots.latest(spark, s"$dir/snaps").get
      (snap, Snapshots.readAt(spark, s"$dir/snaps", snap).select("k").as[Long].collect().sorted.toSeq)
    }
  }

  test("Erasure: every crash reads the file's previous rows or its erased rows") {
    def fresh(): String = {
      FaultyFs.install(spark)
      val dir = FaultyFs.tempDir("graft_crash_erase")
      Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.parquet(s"$dir/data")
      dir
    }
    def dataFile(dir: String) = {
      val p = new Path(s"$dir/data")
      p.getFileSystem(hc).listStatus(p).filter(_.isFile).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toSeq
    }
    everyCrash(() => fresh()) { dir =>
      Erasure.erase(spark, Erasure.ErasePlan("id", Seq(2L), dataFile(dir), Seq.empty))
    } { dir =>
      (dataFile(dir).size, spark.read.parquet(s"$dir/data").as[Long].collect().sorted.toSeq)
    }
  }

  // ----------------------------------------------- layouts written before

  test("a DedupIndex written without a pointer reads, appends and compacts") {
    val d = tmp("graft_legacy_didx")
    DedupIndex.write(docsA, d)
    flatten(d)
    assert(names(d) == Set("fps", "bands", "grams", "meta"))
    assert(dedupView(d)._1 == Seq(1L, 2L))
    DedupIndex.append(docsB, d)
    val appended = dedupView(d)
    assert(appended._1 == Seq(1L, 2L, 3L, 4L))
    DedupIndex.compact(spark, d)
    assert(dedupView(d) == appended)
    assert(names(d) == Set("v0", "_CURRENT"), s"legacy tables left behind: ${names(d)}")
  }

  test("a SearchIndex written without a pointer searches and refreshes") {
    val d = tmp("graft_legacy_sidx")
    val terms = Seq("document", "spark", "the")
    def hits(dir: String) = SearchIndex.search(spark, dir, terms, k = 10).collect().toSeq
    SearchIndex.build(docsA.union(docsB), s"$d/full")
    SearchIndex.build(docsA, s"$d/inc")
    flatten(s"$d/inc")
    assert(names(s"$d/inc") == Set("postings", "terms", "stats"))
    SearchIndexRefresh.refresh(docsB, s"$d/inc")
    assert(hits(s"$d/inc") == hits(s"$d/full"))
    assert(names(s"$d/inc") == Set("postings", "v0", "_CURRENT"))
  }

  test("an IvfIndex written without a pointer probes, appends and compacts") {
    val d = tmp("graft_legacy_ivf")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").select($"vec_id", $"embedding")
    IvfIndex.write(emb.filter($"vec_id" < 40), d, k = 2, iters = 1)
    IvfIndex.applyAppendBatch(emb.filter($"vec_id" >= 40 && $"vec_id" < 50), d, 0L)
    flatten(d)
    assert(names(d) == Set("centroids", "members", "meta", "gens"))
    def ids = spark.read.parquet(IvfIndex.memberPaths(spark, d): _*)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 50L))
    IvfIndex.append(emb.filter($"vec_id" >= 50 && $"vec_id" < 60), d)
    assert(ids == (0L until 60L))
    IvfIndex.compact(spark, d)
    assert(ids == (0L until 60L))
    assert(IvfIndex.storedK(spark, d) == 2)
    assert(names(d) == Set("v0", "_CURRENT"), s"legacy tables left behind: ${names(d)}")
  }

  test("a snapshot store without a pointer reads, merges and vacuums") {
    val d = tmp("graft_legacy_snap")
    Streams.applySnapshotBatch(spark, d,
      Seq((1L, 1L, "a")).toDF("k", "ver", "payload"), 0L, Seq("k"), Seq("ver"))
    Streams.applySnapshotBatch(spark, d,
      Seq((2L, 1L, "b")).toDF("k", "ver", "payload"), 1L, Seq("k"), Seq("ver"))
    local.delete(new Path(s"$d/_CURRENT"), false)
    assert(Streams.readSnapshot(spark, d).get.count() == 2)
    Streams.applySnapshotBatch(spark, d,
      Seq((3L, 1L, "c")).toDF("k", "ver", "payload"), 2L, Seq("k"), Seq("ver"))
    assert(Streams.readSnapshot(spark, d).get.count() == 3)
    assert(Streams.vacuumSnapshots(spark, d, keep = 1) == Seq("v0", "v1"))
    assert(names(d) == Set("v2", "_CURRENT"))
  }
}
