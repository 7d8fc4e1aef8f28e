package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the time-travel contract: (1) commits are append-only — a new
  * snapshot never disturbs reads at an older one; (2) a compaction
  * committed as a rewrite preserves row content at the new snapshot
  * while every older snapshot still reads its own file set; (3)
  * copy-on-write erasure is a rewrite commit — the erased rows vanish
  * only from the new snapshot; (4) range reads prune from the pinned
  * snapshot's stats; (5) expire deletes exactly the files no surviving
  * snapshot references, and the survivor still reads. */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def sumK(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum($"k")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("append, compact-rewrite, CoW-erase, expire — every snapshot stays consistent") {
    val d = java.nio.file.Files.createTempDirectory("snap").toString
    val data = s"$d/data"; val root = s"$d/snaps"
    (1L to 400L).toDF("k").repartition(4).write.parquet(data)
    val c0 = Snapshots.commitFromFs(spark, data, root, Seq("k"))
    assert(c0.snapshot == 0L && c0.added == 4 && c0.removed == 0)
    val q0 = sumK(Snapshots.readAt(spark, root, 0L))
    assert(q0 == ((400L, 400L * 401 / 2)))

    // append-path commit: new files join, s0 must not see them
    (401L to 500L).toDF("k").repartition(2).write.mode("append").parquet(data)
    val c1 = Snapshots.commitFromFs(spark, data, root, Seq("k"))
    assert(c1.snapshot == 1L && c1.added == 2 && c1.kept == 4)
    assert(sumK(Snapshots.readAt(spark, root, 1L)) == ((500L, 500L * 501 / 2)))
    assert(sumK(Snapshots.readAt(spark, root, 0L)) == q0) // time travel

    // compaction as a rewrite commit: content identical at s2, s0/s1 intact
    val groups = Compaction.plan(spark, data, 1L << 30)
    val multi = groups.filter(_.files.length > 1)
    Compaction.compact(spark, multi, s"$d/cout")
    val c2 = Snapshots.commitRewrite(spark, root,
      removed = multi.flatMap(_.files).map(_.path), addedDir = s"$d/cout",
      cols = Seq("k"))
    assert(c2.snapshot == 2L && c2.removed == multi.map(_.files.length).sum)
    assert(sumK(Snapshots.readAt(spark, root, 2L)) == ((500L, 500L * 501 / 2)))
    assert(sumK(Snapshots.readAt(spark, root, 1L)) == ((500L, 500L * 501 / 2)))
    assert(sumK(Snapshots.readAt(spark, root, 0L)) == q0)

    // copy-on-write erasure: rewrite the files containing victims, commit
    val victims = Set(7L, 123L, 499L)
    val s2Files = Snapshots.filesAt(spark, root, 2L)
    val touched = s2Files.filter { f =>
      spark.read.parquet(f).filter($"k".isin(victims.toSeq: _*)).limit(1)
        .count() > 0
    }
    assert(touched.nonEmpty)
    spark.read.parquet(touched: _*).filter(!$"k".isin(victims.toSeq: _*))
      .coalesce(1).write.parquet(s"$d/eout")
    val c3 = Snapshots.commitRewrite(spark, root,
      removed = touched, addedDir = s"$d/eout", cols = Seq("k"))
    assert(c3.snapshot == 3L)
    val q3 = sumK(Snapshots.readAt(spark, root, 3L))
    assert(q3 == ((497L, 500L * 501 / 2 - victims.sum)))
    // erased rows still visible at the PRE-erase snapshot — the audit read
    assert(sumK(Snapshots.readAt(spark, root, 2L)) == ((500L, 500L * 501 / 2)))

    // pruned range read at the pinned snapshot
    val got = Snapshots.readRangeAt(spark, root, 3L, "k", 10L, 20L)
      .select($"k").as[Long].collect().sorted
    assert(got.toSeq == (10L to 20L))

    // expire everything but the latest: files only s0..s2 referenced are
    // deleted, the survivor still reads, and the dropped snapshots vanish
    val rep = Snapshots.expire(spark, root, keepFrom = 3L)
    assert(rep.snapshotsDropped == 3 && rep.filesDeleted > 0)
    assert(Snapshots.snapshots(spark, root) == Seq(3L))
    assert(sumK(Snapshots.readAt(spark, root, 3L)) == q3)
    // every surviving file exists; the rewrite victims are gone
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.filesAt(spark, root, 3L).foreach { f =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(f)), s"missing $f")
    }
    touched.foreach { f =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(f)), s"not expired: $f")
    }
  }

  test("incremental read: exactly the appended delta; rewrite lineage fails loudly") {
    val d = java.nio.file.Files.createTempDirectory("snapincr").toString
    (1L to 100L).toDF("k").repartition(2).write.parquet(s"$d/data")
    Snapshots.commitFromFs(spark, s"$d/data", s"$d/snaps", Seq("k"))
    (101L to 150L).toDF("k").repartition(1).write.mode("append").parquet(s"$d/data")
    Snapshots.commitFromFs(spark, s"$d/data", s"$d/snaps", Seq("k"))
    val delta = Snapshots.readIncremental(spark, s"$d/snaps", 0L, 1L)
      .select($"k").as[Long].collect().sorted
    assert(delta.toSeq == (101L to 150L))
    // a compaction rewrite between snapshots breaks append lineage:
    // the consumer must be told to resync, not silently double-read
    val groups = Compaction.plan(spark, s"$d/data", 1L << 30)
    val multi = groups.filter(_.files.length > 1)
    Compaction.compact(spark, multi, s"$d/cout")
    Snapshots.commitRewrite(spark, s"$d/snaps",
      removed = multi.flatMap(_.files).map(_.path), addedDir = s"$d/cout",
      cols = Seq("k"))
    val ex = intercept[IllegalArgumentException] {
      Snapshots.readIncremental(spark, s"$d/snaps", 1L, 2L)
    }
    assert(ex.getMessage.contains("append-only"))
  }

  test("rollback: a new snapshot restores the old file list; history stays linear") {
    val d = java.nio.file.Files.createTempDirectory("snaprb").toString
    (1L to 100L).toDF("k").repartition(2).write.parquet(s"$d/data")
    Snapshots.commitFromFs(spark, s"$d/data", s"$d/snaps", Seq("k"))
    // the "bad commit": a wrong load appends garbage
    (1000L to 1049L).toDF("k").repartition(1).write.mode("append").parquet(s"$d/data")
    Snapshots.commitFromFs(spark, s"$d/data", s"$d/snaps", Seq("k"))
    val c = Snapshots.rollback(spark, s"$d/snaps", to = 0L)
    assert(c.snapshot == 2L)
    assert(sumK(Snapshots.readAt(spark, s"$d/snaps", 2L))
      == ((100L, 100L * 101 / 2)))
    // the bad snapshot stays readable for the post-mortem
    assert(sumK(Snapshots.readAt(spark, s"$d/snaps", 1L))._1 == 150L)
    // after expiry, rolling back to a DROPPED snapshot fails loudly on
    // the manifest read (never silently resurrects a partial state);
    // the survivor still reads (its files — s0's — are referenced)
    Snapshots.expire(spark, s"$d/snaps", keepFrom = 2L)
    intercept[Exception] {
      Snapshots.rollback(spark, s"$d/snaps", to = 0L)
    }
    assert(sumK(Snapshots.readAt(spark, s"$d/snaps", 2L))
      == ((100L, 100L * 101 / 2)))
  }

  test("delete watermarks: each snapshot reads exactly its visible delete set; expire retires absorbed generations") {
    val d = java.nio.file.Files.createTempDirectory("snapdv").toString
    val data = s"$d/data"; val root = s"$d/snaps"; val dv = s"$d/dv"
    (1L to 400L).toDF("k").repartition(4).write.parquet(data)
    // s0: committed BEFORE any delete — its watermark is empty and it
    // shows the rows forever (table state as of its commit)
    Snapshots.commitFromFs(spark, data, root, Seq("k"), posDeleteDir = Some(dv))
    assert(sumK(Snapshots.readAt(spark, root, 0L)) == ((400L, 400L * 401 / 2)))

    // position-delete every multiple of 10, then commit: s1's watermark
    // records the generation, so readAt(1) merges it — the r13 gap was
    // exactly this read resurrecting the 40 deleted rows
    val nDel = DeletionVectors.addDeletes(spark, data, dv, $"k" % 10 === 0)
    assert(nDel == 40L)
    Snapshots.commitFromFs(spark, data, root, Seq("k"), posDeleteDir = Some(dv))
    val delSum = (10L to 400L by 10).sum
    val q1 = ((360L, 400L * 401 / 2 - delSum))
    assert(sumK(Snapshots.readAt(spark, root, 1L)) == q1)
    assert(sumK(Snapshots.readAt(spark, root, 0L)) == ((400L, 400L * 401 / 2)))
    // pruned range read under MoR: deleted ks stay gone
    val got = Snapshots.readRangeAt(spark, root, 1L, "k", 8L, 22L)
      .select($"k").as[Long].collect().sorted
    assert(got.toSeq == (8L to 22L).filterNot(_ % 10 == 0))

    // compaction ABSORBS the deletes; the rewrite commit drops the
    // generation from the new watermark but leaves it on disk — s1
    // still needs it
    val multi = Compaction.plan(spark, data, 1L << 30).filter(_.files.length > 1)
    assert(multi.flatMap(_.files).length == 4, "expected all files rewritten")
    Compaction.compact(spark, multi, s"$d/cout", deleteDir = Some(dv))
    val genPaths = Snapshots.manifestAt(spark, root, 1L)
      .filter($"kind" === "posdel").select($"file").as[String].collect().toSeq
    assert(genPaths.length == 1)
    Snapshots.commitRewrite(spark, root,
      removed = multi.flatMap(_.files).map(_.path), addedDir = s"$d/cout",
      cols = Seq("k"), dropDeleteGens = genPaths)
    assert(sumK(Snapshots.readAt(spark, root, 2L)) == q1) // physical now
    assert(sumK(Snapshots.readAt(spark, root, 1L)) == q1) // still MoR
    assert(sumK(Snapshots.readAt(spark, root, 0L)) == ((400L, 400L * 401 / 2)))

    // history metadata table: per-snapshot file/row/watermark census
    val hist = Snapshots.history(spark, root)
      .select($"snapshot", $"n_files", $"n_rows", $"n_pos_delete_gens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(hist == Seq((0L, 4L, 400L, 0L), (1L, 4L, 400L, 1L),
      (2L, 1L, 360L, 0L)), s"history: $hist")

    // expire s0/s1: the generation dir loses its last referencing
    // snapshot and is retired along with the rewritten originals
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(genPaths.head)))
    val rep = Snapshots.expire(spark, root, keepFrom = 2L)
    assert(rep.snapshotsDropped == 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(genPaths.head)),
      "absorbed delete generation must be retired with its last snapshot")
    assert(sumK(Snapshots.readAt(spark, root, 2L)) == q1)
  }

  test("equality-delete sequence scoping: a re-inserted key survives reads and the scoped absorb") {
    val d = java.nio.file.Files.createTempDirectory("snapeq").toString
    val data = s"$d/data"; val root = s"$d/snaps"; val eq = s"$d/eq"
    (1L to 10L).map(k => (k, k * 100L)).toDF("k", "v")
      .coalesce(1).write.parquet(data)
    Snapshots.commitFromFs(spark, data, root, Seq("k"), eqDeleteDir = Some(eq))
    // CDC tombstones for k=1,2 — commit makes them visible at seq 1
    DeletionVectors.addKeyDeletes(spark, eq, Seq(1L, 2L).toDF("k"))
    Snapshots.commitFromFs(spark, data, root, Seq("k"), eqDeleteDir = Some(eq))
    assert(Snapshots.readAt(spark, root, 1L).select($"k").as[Long]
      .collect().sorted.toSeq == (3L to 10L))
    // the pre-tombstone snapshot still shows them
    assert(Snapshots.readAt(spark, root, 0L).count() == 10L)

    // RE-INSERT k=1 (new value) as an append commit at seq 2: the
    // tombstone (seq 1) applies only to files with seq < 1, so the new
    // file's row survives — the delete-forever caveat retired
    Seq((1L, 999L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(data)
    Snapshots.commitFromFs(spark, data, root, Seq("k"), eqDeleteDir = Some(eq))
    val s2 = Snapshots.readAt(spark, root, 2L)
      .select($"k", $"v").as[(Long, Long)].collect().sorted.toSeq
    assert(s2 == ((1L, 999L) +: (3L to 10L).map(k => (k, k * 100L))),
      s"re-inserted key must survive, got $s2")

    // scoped compaction absorb: rewrite everything with the snapshot's
    // EqScope — the re-inserted row survives the rewrite too
    val multi = Compaction.plan(spark, data, 1L << 30).filter(_.files.length > 1)
    assert(multi.flatMap(_.files).length == 2)
    Compaction.compact(spark, multi, s"$d/cout", eqDeleteDir = Some(eq),
      eqScope = Some(Snapshots.eqScopeAt(spark, root, 2L)))
    val genPaths = Snapshots.manifestAt(spark, root, 2L)
      .filter($"kind" === "eqdel").select($"file").as[String].collect().toSeq
    Snapshots.commitRewrite(spark, root,
      removed = multi.flatMap(_.files).map(_.path), addedDir = s"$d/cout",
      cols = Seq("k"), dropDeleteGens = genPaths)
    val s3 = Snapshots.readAt(spark, root, 3L)
      .select($"k", $"v").as[(Long, Long)].collect().sorted.toSeq
    assert(s3 == s2, s"scoped absorb must preserve the re-insert, got $s3")

    // contrast: the UNscoped absorb (CDC latest-per-key semantics)
    // would have deleted the re-inserted row as well
    Compaction.compact(spark, multi, s"$d/cout_unscoped", eqDeleteDir = Some(eq))
    val unscoped = spark.read.parquet(s"$d/cout_unscoped/g0")
      .select($"k").as[Long].collect().sorted.toSeq
    assert(unscoped == (3L to 10L), s"unscoped absorb latest-per-key, got $unscoped")
  }

  test("concurrent commit: the rename loser fails loudly, the winner's snapshot is untouched") {
    val d = java.nio.file.Files.createTempDirectory("snapccy").toString
    (1L to 20L).toDF("k").coalesce(1).write.parquet(s"$d/data")
    Snapshots.commitFromFs(spark, s"$d/data", s"$d/snaps", Seq("k"))
    // simulate the race window: both writers derived next=1 from
    // snapshot 0; the winner's snap=1 lands first, so the loser's
    // rename onto it must fail loudly, never clobber
    val m = Snapshots.manifestAt(spark, s"$d/snaps", 0L)
    m.write.parquet(s"$d/snaps/snap=1") // the winner's commit
    val ex = intercept[java.io.IOException] {
      Snapshots.commitManifest(spark, s"$d/snaps", m, 1L) // the loser
    }
    assert(ex.getMessage.contains("concurrent commit"))
    // the winner's snapshot still reads its own content
    assert(Snapshots.readAt(spark, s"$d/snaps", 1L).count() == 20L)
  }

  test("add-column schema evolution: mergeSchema read unions commits; old rows read null") {
    val d = java.nio.file.Files.createTempDirectory("snapevo").toString
    (1L to 10L).toDF("k").coalesce(1).write.parquet(s"$d/data")
    Snapshots.commitFromFs(spark, s"$d/data", s"$d/snaps", Seq("k"))
    // a later load carries an EXTRA column
    (11L to 15L).map(k => (k, s"v$k")).toDF("k", "tag")
      .coalesce(1).write.mode("append").parquet(s"$d/data")
    Snapshots.commitFromFs(spark, s"$d/data", s"$d/snaps", Seq("k"))
    val got = Snapshots.readAt(spark, s"$d/snaps", 1L, mergeSchema = true)
      .select($"k", $"tag").as[(Long, Option[String])].collect().sortBy(_._1)
    assert(got.length == 15)
    assert(got.take(10).forall(_._2.isEmpty), "old rows must read null tag")
    assert(got.drop(10).forall(r => r._2.contains(s"v${r._1}")))
    // the pre-evolution snapshot is untouched by the new column
    assert(!Snapshots.readAt(spark, s"$d/snaps", 0L).columns.contains("tag"))
  }

  test("concurrent appenders both succeed via commit retry; rewrite conflicts still fail") {
    val d = java.nio.file.Files.createTempDirectory("snaprace").toString
    val data = s"$d/data"; val root = s"$d/snaps"
    (1L to 100L).toDF("k").coalesce(1).write.parquet(s"$data/base")
    Snapshots.commitFromFs(spark, data, root, Seq("k"))
    // two appenders race: each lands its own files then commits the FS
    // truth — the rename loser must RETRY against the winner's snapshot
    // (re-list, re-derive) instead of failing the append
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq((101L to 150L, "a"), (151L to 200L, "b")).map {
      case (ks, tag) =>
        new Thread(() =>
          try {
            ks.toDF("k").coalesce(1).write.parquet(s"$data/$tag")
            Snapshots.commitFromFs(spark, data, root, Seq("k"))
            ()
          } catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent append failed: ${errs.peek()}")
    // exactly one snapshot per commit, strictly ordered ids
    assert(Snapshots.snapshots(spark, root) == Seq(0L, 1L, 2L))
    // the final snapshot carries BOTH appenders' rows (the last
    // committer listed after the other's commit — FS truth)
    assert(sumK(Snapshots.readAt(spark, root, 2L)) == ((200L, 200L * 201 / 2)))
    // sequence numbers: the base file keeps seq 0; each appended file
    // carries the sequence of the commit that FIRST LISTED it — (0,1,2)
    // when the commits interleave with the writes, (0,1,1) when the
    // first committer's FS listing already caught both files (both are
    // correct: the FS is the truth for the append path, and a file's
    // seq must never exceed the snapshot that first admitted it)
    val seqs = Snapshots.manifestAt(spark, root, 2L)
      .filter($"kind" === "data").select($"seq").as[Long]
      .collect().sorted.toSeq
    assert(seqs == Seq(0L, 1L, 2L) || seqs == Seq(0L, 1L, 1L), s"seqs: $seqs")
    // rewrite-vs-rewrite conflict stays loud, no retry: once a rewrite
    // removed a file, a second rewrite derived against the stale state
    // (removing the same file) fails — remove-vs-remove needs the
    // caller's judgement, not an automatic reapply
    (201L to 210L).toDF("k").coalesce(1).write.parquet(s"$d/cout")
    val victim = Snapshots.filesAt(spark, root, 2L).head
    Snapshots.commitRewrite(spark, root, removed = Seq(victim),
      addedDir = s"$d/cout", cols = Seq("k"))
    (211L to 220L).toDF("k").coalesce(1).write.parquet(s"$d/cout2")
    val ex = intercept[IllegalArgumentException] {
      Snapshots.commitRewrite(spark, root, removed = Seq(victim),
        addedDir = s"$d/cout2", cols = Seq("k"))
    }
    assert(ex.getMessage.contains("contains only"))
  }

  test("second stats column: snapshot range reads skip files on a non-primary predicate") {
    val d = java.nio.file.Files.createTempDirectory("snapcol2").toString
    val data = s"$d/data"; val root = s"$d/snaps"
    // layout clustered by k; v = 2k correlates, so per-file v spans are
    // disjoint too — recording BOTH at commit lets a v-predicate skip
    (1L to 400L).map(k => (k, k * 2L)).toDF("k", "v")
      .repartitionByRange(4, $"k").sortWithinPartitions($"k")
      .write.parquet(data)
    Snapshots.commitFromFs(spark, data, root, Seq("k", "v"))
    assert(Snapshots.filesAt(spark, root, 0L).length == 4)
    // the non-primary predicate prunes to the one file spanning it
    val cand = Snapshots.candidateFilesAt(spark, root, 0L, "v", 20L, 40L)
    assert(cand.length == 1, s"expected 1 candidate file, got ${cand.length}")
    val got = Snapshots.readRangeAt(spark, root, 0L, "v", 20L, 40L)
      .select($"k").as[Long].collect().sorted
    assert(got.toSeq == (10L to 20L))
  }

  test("a pre-sequence-number manifest fails with an explicit upgrade message") {
    val d = java.nio.file.Files.createTempDirectory("snaplegacy").toString
    // a legacy-format manifest: file stats only, no kind/seq columns
    Seq((s"$d/f0.parquet", 10L, 0L, 5L)).toDF("file", "n_bytes", "mtime", "n_rows")
      .write.parquet(s"$d/snaps/snap=0")
    val ex = intercept[IllegalArgumentException] {
      Snapshots.manifestAt(spark, s"$d/snaps", 0L)
    }
    assert(ex.getMessage.contains("sequence-numbered"))
  }

  test("incremental read fails loudly when a delete lands on pre-window files") {
    val d = java.nio.file.Files.createTempDirectory("snapincrdel").toString
    val data = s"$d/data"; val root = s"$d/snaps"
    val dv = s"$d/dv"; val eq = s"$d/eq"
    (1L to 100L).toDF("k").coalesce(1).write.parquet(data)
    Snapshots.commitFromFs(spark, data, root, Seq("k"),
      posDeleteDir = Some(dv), eqDeleteDir = Some(eq))
    // window 0->1: appends PLUS a position delete on an s0 file — the
    // delta cannot carry the retraction, so the consumer must resync
    (101L to 150L).toDF("k").coalesce(1).write.mode("append").parquet(data)
    DeletionVectors.addDeletes(spark, data, dv, $"k" === 7L)
    Snapshots.commitFromFs(spark, data, root, Seq("k"),
      posDeleteDir = Some(dv), eqDeleteDir = Some(eq))
    val ex = intercept[IllegalArgumentException] {
      Snapshots.readIncremental(spark, root, 0L, 1L)
    }
    assert(ex.getMessage.contains("resync"))
    // window 1->2: a delete landing ONLY on the window's own appended
    // file is fine — the delta simply excludes those rows
    (151L to 160L).toDF("k").coalesce(1).write.mode("append").parquet(data)
    DeletionVectors.addDeletes(spark, data, dv, $"k" === 155L)
    Snapshots.commitFromFs(spark, data, root, Seq("k"),
      posDeleteDir = Some(dv), eqDeleteDir = Some(eq))
    val delta = Snapshots.readIncremental(spark, root, 1L, 2L)
      .select($"k").as[Long].collect().sorted.toSeq
    assert(delta == (151L to 160L).filterNot(_ == 155L))
    // an equality tombstone in the window always forces a resync (it
    // scopes to every older file by the sequence rule)
    DeletionVectors.addKeyDeletes(spark, eq, Seq(3L).toDF("k"))
    Snapshots.commitFromFs(spark, data, root, Seq("k"),
      posDeleteDir = Some(dv), eqDeleteDir = Some(eq))
    val ex2 = intercept[IllegalArgumentException] {
      Snapshots.readIncremental(spark, root, 2L, 3L)
    }
    assert(ex2.getMessage.contains("resync"))
  }

  test("changefeed: row-identical retractions, same-window net-out, no re-retraction") {
    val d = java.nio.file.Files.createTempDirectory("snapcdc").toString
    val data = s"$d/data"; val root = s"$d/snaps"
    val dv = s"$d/dv"; val eq = s"$d/eq"
    def commit(): Unit = {
      Snapshots.commitFromFs(spark, data, root, Seq("k"),
        posDeleteDir = Some(dv), eqDeleteDir = Some(eq))
      ()
    }
    (1L to 10L).map(k => (k, k * 100L)).toDF("k", "v")
      .coalesce(1).write.parquet(data)
    commit() // s0
    // window 0->1: append 11..20, pos-delete k=3 (old file) AND k=15
    // (the window's OWN file — must net out of the inserts, never
    // retract), eq-tombstone k=5
    (11L to 20L).map(k => (k, k * 100L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(data)
    DeletionVectors.addDeletes(spark, data, dv, $"k".isin(3L, 15L))
    DeletionVectors.addKeyDeletes(spark, eq, Seq(5L).toDF("k"))
    commit() // s1
    val cf = Snapshots.readChangefeed(spark, root, 0L, 1L)
      .select($"_change_type", $"k", $"v").as[(String, Long, Long)]
      .collect().sorted.toSeq
    val wantInserts = (11L to 20L).filterNot(_ == 15L)
      .map(k => ("insert", k, k * 100L))
    val wantDeletes = Seq(("delete", 3L, 300L), ("delete", 5L, 500L))
    assert(cf == (wantDeletes ++ wantInserts).sorted, s"changefeed: $cf")
    // window 1->2: re-delete k=3 (already dead — silent) + delete k=7;
    // no appends — the feed is exactly one retraction row
    DeletionVectors.addDeletes(spark, data, dv, $"k".isin(3L, 7L))
    commit() // s2
    val cf2 = Snapshots.readChangefeed(spark, root, 1L, 2L)
      .select($"_change_type", $"k", $"v").as[(String, Long, Long)]
      .collect().toSeq
    assert(cf2 == Seq(("delete", 7L, 700L)), s"second window: $cf2")
    // applying the feed to a materialization of s1 reproduces readAt(2)
    val matS1 = Snapshots.readAt(spark, root, 1L)
      .select($"k", $"v").as[(Long, Long)].collect().toSet
    val applied = matS1 -- Set((7L, 700L))
    val s2 = Snapshots.readAt(spark, root, 2L)
      .select($"k", $"v").as[(Long, Long)].collect().toSet
    assert(applied == s2, "feed application must reproduce the snapshot")
    // rewrite lineage still fails loudly (rewritten rows are not changes)
    val files = Snapshots.filesAt(spark, root, 2L)
    spark.read.parquet(files: _*).coalesce(1).write.parquet(s"$d/cout")
    Snapshots.commitRewrite(spark, root, removed = files,
      addedDir = s"$d/cout", cols = Seq("k"))
    val ex = intercept[IllegalArgumentException] {
      Snapshots.readChangefeed(spark, root, 2L, 3L)
    }
    assert(ex.getMessage.contains("resync"))
  }

  test("tags: named pins resolve, block expiry, and are immutable") {
    val d = java.nio.file.Files.createTempDirectory("snaptag").toString
    val data = s"$d/data"; val root = s"$d/snaps"
    (1L to 100L).toDF("k").coalesce(1).write.parquet(data)
    Snapshots.commitFromFs(spark, data, root, Seq("k"))
    (101L to 150L).toDF("k").coalesce(1).write.mode("append").parquet(data)
    Snapshots.commitFromFs(spark, data, root, Seq("k"))
    Snapshots.tag(spark, root, "golden-run", 0L)
    assert(Snapshots.tags(spark, root) == Map("golden-run" -> 0L))
    assert(sumK(Snapshots.readAtTag(spark, root, "golden-run"))
      == ((100L, 100L * 101 / 2)))
    // immutable: retagging a live name fails loudly
    intercept[Exception] { Snapshots.tag(spark, root, "golden-run", 1L) }
    // tagging a snapshot that does not exist fails loudly
    intercept[IllegalArgumentException] { Snapshots.tag(spark, root, "x", 9L) }
    // retention respects the pin: keepFrom=1 would drop s0, the tag
    // holds it — files intact, read exact
    val rep = Snapshots.expire(spark, root, keepFrom = 1L)
    assert(rep.snapshotsDropped == 0)
    assert(Snapshots.snapshots(spark, root) == Seq(0L, 1L))
    assert(sumK(Snapshots.readAtTag(spark, root, "golden-run"))
      == ((100L, 100L * 101 / 2)))
    // dropping the tag makes it expirable again
    Snapshots.dropTag(spark, root, "golden-run")
    intercept[IllegalArgumentException] {
      Snapshots.dropTag(spark, root, "golden-run") // unknown now: loud
    }
    val rep2 = Snapshots.expire(spark, root, keepFrom = 1L)
    assert(rep2.snapshotsDropped == 1)
    assert(Snapshots.snapshots(spark, root) == Seq(1L))
    assert(sumK(Snapshots.readAt(spark, root, 1L)) == ((150L, 150L * 151 / 2)))
  }

  test("changefeed retraction scan opens only the affected files") {
    // 8 files with disjoint k ranges; the window position-deletes one
    // row in file 0 and tombstones one key living in file 6 — the
    // from-side scan must open exactly those two files (pos gens name
    // their targets; eq reach = seq-scoped ∩ manifest-stats overlap),
    // and the feed itself must be unchanged by the pruning.
    val d = java.nio.file.Files.createTempDirectory("cdcprune").toString
    val data = s"$d/data"; val root = s"$d/snaps"
    val dv = s"$d/dv"; val eq = s"$d/eq"
    def commit(): Unit = {
      Snapshots.commitFromFs(spark, data, root, Seq("k"),
        posDeleteDir = Some(dv), eqDeleteDir = Some(eq))
      ()
    }
    (0 until 8).foreach { i =>
      ((i * 100 + 1).toLong to (i * 100 + 100).toLong).map(k => (k, k * 10L))
        .toDF("k", "v").coalesce(1).write.mode("append").parquet(data)
    }
    commit() // s0
    DeletionVectors.addDeletes(spark, data, dv, $"k" === 5L)
    DeletionVectors.addKeyDeletes(spark, eq, Seq(650L).toDF("k"))
    commit() // s1
    val opened = Snapshots.changefeedFromFiles(spark, root, 0L, 1L)
    assert(opened.length == 2, s"expected 2 affected of 8 files: $opened")
    val cf = Snapshots.readChangefeed(spark, root, 0L, 1L)
      .select($"_change_type", $"k", $"v").as[(String, Long, Long)]
      .collect().sorted.toSeq
    assert(cf == Seq(("delete", 5L, 50L), ("delete", 650L, 6500L)),
      s"pruned feed must be unchanged: $cf")
    // a delete-free window opens nothing on the retraction side
    (801L to 900L).map(k => (k, k * 10L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(data)
    commit() // s2
    assert(Snapshots.changefeedFromFiles(spark, root, 1L, 2L).isEmpty)
    assert(Snapshots.readChangefeed(spark, root, 1L, 2L)
      .filter($"_change_type" === "delete").count() == 0)
  }

  test("append after rewrite: removed originals stay dead, outside-dir outputs stay live, tombstones prune") {
    val d = java.nio.file.Files.createTempDirectory("snapresur").toString
    val data = s"$d/data"; val root = s"$d/snaps"
    (1L to 100L).toDF("k").repartition(2).write.parquet(data)
    Snapshots.commitFromFs(spark, data, root, Seq("k"))
    // compact EVERYTHING into an out-of-dataDir output and commit the
    // rewrite — the originals stay physically present under dataDir
    val originals = Snapshots.filesAt(spark, root, 0L)
    spark.read.parquet(data).coalesce(1).write.parquet(s"$d/cout")
    val c1 = Snapshots.commitRewrite(spark, root, removed = originals,
      addedDir = s"$d/cout", cols = Seq("k"))
    assert(c1.snapshot == 1L && c1.removed == 2)
    // the next APPEND commit re-lists dataDir: without the tombstone +
    // outside-dir rules it would resurrect the absorbed originals and
    // drop the compacted output
    (101L to 120L).toDF("k").coalesce(1).write.mode("append").parquet(data)
    val c2 = Snapshots.commitFromFs(spark, data, root, Seq("k"))
    assert(c2.added == 1, s"only the new file is new, got ${c2.added}")
    assert(sumK(Snapshots.readAt(spark, root, 2L)) == ((120L, 120L * 121 / 2)))
    // a redundant append commit is a no-op: it returns the latest
    // snapshot instead of committing another
    val c3 = Snapshots.commitFromFs(spark, data, root, Seq("k"))
    assert(c3.snapshot == c2.snapshot && Snapshots.latest(spark, root) == Some(c2.snapshot))
    assert(c3.added == 0 && sumK(Snapshots.readAt(spark, root, c3.snapshot)) ==
      ((120L, 120L * 121 / 2)))
    // the tombstones ride every manifest while the dead files exist…
    val m3 = Snapshots.manifestAt(spark, root, c3.snapshot)
    assert(m3.filter(col("kind") === "removed").count() == 2)
    // …and prune once expire physically deletes them
    Snapshots.expire(spark, root, keepFrom = 2L)
    val fs = new org.apache.hadoop.fs.Path(data)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(originals.forall(f => !fs.exists(new org.apache.hadoop.fs.Path(f))),
      "expire must delete the rewritten-away originals")
    val c4 = Snapshots.commitFromFs(spark, data, root, Seq("k"))
    val m4 = Snapshots.manifestAt(spark, root, c4.snapshot)
    assert(m4.filter(col("kind") === "removed").count() == 0,
      "tombstones of physically-deleted files must prune")
    assert(sumK(Snapshots.readAt(spark, root, c4.snapshot)) ==
      ((120L, 120L * 121 / 2)))
  }

  test("duplicate tag pins fail loudly in tags() but BOTH protect their snapshots from expire") {
    val d = java.nio.file.Files.createTempDirectory("snaptagdup").toString
    val data = s"$d/data"; val root = s"$d/snaps"
    (1L to 10L).toDF("k").coalesce(1).write.parquet(data)
    Snapshots.commitFromFs(spark, data, root, Seq("k"))
    (11L to 20L).toDF("k").coalesce(1).write.mode("append").parquet(data)
    Snapshots.commitFromFs(spark, data, root, Seq("k"))
    (21L to 30L).toDF("k").coalesce(1).write.mode("append").parquet(data)
    Snapshots.commitFromFs(spark, data, root, Seq("k"))
    Snapshots.tag(spark, root, "pin", 0L)
    // simulate the crashed-race residue: a second marker for the same
    // name, different snapshot (tag() itself rolls this back when it
    // survives, so plant it directly)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(root, "_tag-pin=1"), false).close()
    val ex = intercept[IllegalArgumentException] { Snapshots.tags(spark, root) }
    assert(ex.getMessage.contains("duplicate tag pins"), ex.getMessage)
    // retention safety must honor the RAW listing: both pinned
    // snapshots survive a sweep that would drop them
    Snapshots.expire(spark, root, keepFrom = 2L)
    assert(Snapshots.snapshots(spark, root) == Seq(0L, 1L, 2L))
    assert(sumK(Snapshots.readAt(spark, root, 0L)) == ((10L, 55L)))
    assert(sumK(Snapshots.readAt(spark, root, 1L)) == ((20L, 210L)))
  }

  test("branches (WAP): invisible until publish, diverged main refuses, reject leaves main untouched") {
    val d = java.nio.file.Files.createTempDirectory("snapwap").toString
    val data = s"$d/data"; val root = s"$d/snaps"
    (1L to 100L).toDF("k").coalesce(1).write.parquet(data)
    Snapshots.commitFromFs(spark, data, root, Seq("k"))
    // cut a branch, stage a load into a branch-private dir, commit it
    // to the BRANCH lineage
    val base = Snapshots.createBranch(spark, root, "load")
    assert(base == 0L && Snapshots.branches(spark, root) == Seq("load"))
    (101L to 150L).toDF("k").coalesce(1).write.parquet(s"$d/stage")
    val broot = Snapshots.branchRoot(root, "load")
    Snapshots.commitFromFs(spark, s"$d/stage", broot, Seq("k"))
    // the branch sees base + staged rows; MAIN sees neither the commit
    // nor the rows
    assert(sumK(Snapshots.readAt(spark, broot, 1L)) == ((150L, 150L * 151 / 2)))
    assert(Snapshots.snapshots(spark, root) == Seq(0L))
    assert(sumK(Snapshots.readAt(spark, root, 0L)) == ((100L, 5050L)))
    // REJECT path: drop the branch — main is byte-identical
    Snapshots.dropBranch(spark, root, "load")
    assert(Snapshots.branches(spark, root).isEmpty)
    assert(Snapshots.snapshots(spark, root) == Seq(0L))
    // PUBLISH path: re-cut, re-commit, fast-forward — the branch
    // snapshots become main's, ids and seqs already aligned
    Snapshots.createBranch(spark, root, "load")
    Snapshots.commitFromFs(spark, s"$d/stage", broot, Seq("k"))
    val published = Snapshots.fastForward(spark, root, "load")
    assert(published == Seq(1L))
    assert(Snapshots.snapshots(spark, root) == Seq(0L, 1L))
    assert(sumK(Snapshots.readAt(spark, root, 1L)) == ((150L, 150L * 151 / 2)))
    assert(Snapshots.branches(spark, root).isEmpty)
    // and the published lineage keeps composing: a plain main append
    // after the publish keeps the staged (outside-dataDir) files
    (151L to 160L).toDF("k").coalesce(1).write.mode("append").parquet(data)
    Snapshots.commitFromFs(spark, data, root, Seq("k"))
    assert(sumK(Snapshots.readAt(spark, root, 2L)) == ((160L, 160L * 161 / 2)))
    // DIVERGENCE: a branch cut at s2, then a main commit — publishing
    // the branch must refuse (no interleaved histories)
    Snapshots.createBranch(spark, root, "late")
    (161L to 170L).toDF("k").coalesce(1).write.parquet(s"$d/stage2")
    Snapshots.commitFromFs(spark, s"$d/stage2",
      Snapshots.branchRoot(root, "late"), Seq("k"))
    (171L to 180L).toDF("k").coalesce(1).write.mode("append").parquet(data)
    Snapshots.commitFromFs(spark, data, root, Seq("k")) // main moves to s3
    val ex = intercept[IllegalArgumentException] {
      Snapshots.fastForward(spark, root, "late")
    }
    assert(ex.getMessage.contains("diverged"), ex.getMessage)
    // main's own lineage is untouched by the refused publish
    assert(Snapshots.snapshots(spark, root) == Seq(0L, 1L, 2L, 3L))
  }

  test("rewrite of files the snapshot does not list fails loudly") {
    val d = java.nio.file.Files.createTempDirectory("snapbad").toString
    (1L to 10L).toDF("k").coalesce(1).write.parquet(s"$d/data")
    Snapshots.commitFromFs(spark, s"$d/data", s"$d/snaps", Seq("k"))
    (11L to 12L).toDF("k").coalesce(1).write.parquet(s"$d/extra")
    val ex = intercept[IllegalArgumentException] {
      Snapshots.commitRewrite(spark, s"$d/snaps",
        removed = Seq(s"$d/data/nonexistent.parquet"),
        addedDir = s"$d/extra", cols = Seq("k"))
    }
    assert(ex.getMessage.contains("contains only"))
  }
}
