package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Volume sanity: the clean→daily path over ~1M generated rows across
  * 50 stations — no collect of data, one shuffle per stage, results
  * spot-checked analytically. (Correctness at scale shape, not a
  * wall-clock benchmark.) */
class VolumeSpec extends SparkSpec {
  import spark.implicits._

  test("clean + daily aggregate over 1M rows / 50 stations") {
    // 50 stations × ~834 days × 24 h ≈ 1.0M rows, distributed generation
    val hourly = spark.range(1000000)
      .select(
        (col("id") % 50).cast("string").as("station_id"),
        timestamp_seconds(lit(1577836800L) + (col("id") / 50) * 3600).as("ts_utc"),
        (lit(15.0) + (col("id") % 20)).as("temp_c"),
        lit(40.0).as("lat"), lit(-73.0).as("lon"),
        lit("isd").as("source"), lit(0L).as("qc_flags"))
      .select("ts_utc", "station_id", "lat", "lon", "temp_c", "source", "qc_flags")

    val daily = DailyTmax(CleanHourly.flagSpikes(CleanHourly.flagOutOfRange(hourly)),
      "America/New_York",
      clock = () => java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))

    val agg = daily.agg(
      count(lit(1)).as("n"),
      countDistinct($"station_id").as("n_stations"),
      max($"tmax_c").as("max_t"),
      min($"coverage_hours").as("min_cov")).collect()(0)
    assert(agg.getAs[Long]("n_stations") == 50)
    // station s sees temps 15 + ((s + 50k) mod 20) = two residues
    // {s mod 20, (s+10) mod 20} → per-station daily max is
    // 15 + max of the two; every full-coverage day must hit it exactly
    val expected = (0 until 50).map { s =>
      (s.toString, 15.0 + math.max(s % 20, (s + 10) % 20))
    }.toDF("station_id", "expected_max")
    val mismatches = daily.filter($"coverage_hours" === 24)
      .join(expected, "station_id")
      .filter($"tmax_c" =!= $"expected_max")
      .count()
    assert(mismatches == 0)
    assert(agg.getAs[Double]("max_t") == 34.0) // station 9/19/29/39/49 hits 15+19
    // ~834 days per station (23/25h DST days shift edges slightly)
    val n = agg.getAs[Long]("n")
    assert(n >= 50 * 830 && n <= 50 * 840, s"n=$n")
  }

  test("native as-of join over 1M x 100k rows, analytically checked") {
    // right: per key (1000 keys), one row at each exact hour 0..99 whose
    // value IS its epoch second → the expected as-of match for any left
    // time t is floor(t to the hour)
    val right = spark.range(100000)
      .select(
        (col("id") % 1000).as("k"),
        timestamp_seconds(expr("id DIV 1000") * 3600).as("ts"),
        (expr("id DIV 1000") * 3600).as("v"))
    // left: 1M rows, times spread over the same 100-hour span
    val left = spark.range(1000000)
      .select(
        (col("id") % 1000).as("k"),
        timestamp_seconds((col("id") % 356400)).as("ts"),
        col("id").as("event_id"))
    val out = graft.plans.AsofJoinNative(left, right, Seq("k"), "ts", "ts")
    val bad = out
      .withColumn("t", unix_timestamp(col("ts")))
      .filter(col("v").isNull || col("v") =!= (col("t") - col("t") % 3600))
      .count()
    assert(bad == 0)
    assert(out.count() == 1000000)
  }

  test("dedup-index probe: decoded rows stay bounded across append generations, compaction restores the file budget") {
    // 200k-doc corpus index + 8 append generations, probed by a 6-doc
    // batch. The claims under test, each measured in ROWS EMITTED BY THE
    // PARQUET READER (recordsRead): rows in pruned row groups are never
    // decoded, so this is exactly the quantity footer-stats pruning
    // changes — and the one that stays measurable on a local fs, where
    // parquet's positioned/vectored data-page reads bypass the Hadoop
    // FS statistics that back bytesRead:
    //  (1) key-set pushdown + sorted-by-key layout bound the probe at
    //      O(keys) row groups, nowhere near O(index);
    //  (2) the bound survives generation growth (each appended file is
    //      itself sorted, so pruning holds per generation);
    //  (3) compaction collapses the file count and keeps the bound;
    //  (4) without pushdown the same probe scans the whole index — the
    //      delta IS the pushdown's contribution.
    val dir = java.nio.file.Files.createTempDirectory("graft_didx_vol").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    def docsFor(ids: org.apache.spark.sql.DataFrame) = ids.select(
      col("id").as("doc_id"),
      expr("""concat('a', CAST(id AS STRING), ' b', CAST(id AS STRING),
                     ' c', CAST(id AS STRING), ' d', CAST(id AS STRING),
                     ' e', CAST(id AS STRING))""").as("text"))
    try {
      // 128 KB row groups: many groups per file, the shape where footer
      // pruning decides the read (at production scale the 128 MB default
      // gives the same multi-group files without the shrink)
      hc.setInt("parquet.block.size", 128 * 1024)
      DedupIndex.write(docsFor(spark.range(200000).toDF()), dir)
      (0 until 8).foreach { g =>
        DedupIndex.append(
          docsFor(spark.range(1000000L + g * 2000, 1000000L + (g + 1) * 2000).toDF()), dir)
      }

      val batch = docsFor(Seq(123L, 45678L, 1000001L).toDF("id")) // exact dups
        .unionByName(docsFor(Seq(9000000L, 9000001L, 9000002L).toDF("id"))) // novel
        .withColumn("doc_id", col("doc_id") + 10000000L) // distinct batch ids
      val expected = Set(
        (10000123L, "corpus_exact"), (10045678L, "corpus_exact"),
        (11000001L, "corpus_exact"), (19000000L, "admitted"),
        (19000001L, "admitted"), (19000002L, "admitted"))

      val rowsRead = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          rowsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }
      def probe(maxPushdownKeys: Int): Long = {
        // broadcast-hash builds read the index ON THE DRIVER, outside
        // task metrics — disable broadcasts for the measurement so every
        // index scan runs in tasks and its reads are counted. (At 100 TB
        // the index side is never broadcastable anyway; the pushdown
        // filters are plan-identical either way.)
        val bcKey = "spark.sql.autoBroadcastJoinThreshold"
        val prevBc = spark.conf.get(bcKey)
        spark.conf.set(bcKey, "-1")
        try {
          spark.sparkContext.addSparkListener(listener)
          rowsRead.set(0L)
          val out = DedupDocs.incrementalIndexed(
            DedupIndex.read(spark, dir), batch, maxPushdownKeys = maxPushdownKeys)
            .collect().map(r => (r.getLong(0), r.getString(1))).toSet
          org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
          assert(out == expected, s"probe statuses diverged: $out")
          rowsRead.get()
        } finally spark.conf.set(bcKey, prevBc)
      }
      // metadata-only counts (no data pages decoded)
      def indexRows: Long = Seq("fps", "bands", "grams")
        .map(t => spark.read.parquet(s"${graft.core.Commit.current(spark, dir)}/$t").count()).sum
      def dataFiles(t: String): Long = {
        val ls = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"${graft.core.Commit.current(spark, dir)}/$t"))
        try ls.filter(_.toString.endsWith(".parquet")).count()
        finally ls.close()
      }

      val total = indexRows
      val grown = probe(maxPushdownKeys = 1024)
      assert(grown < total / 4,
        s"probe decoded $grown of $total index rows across 9 generations — pruning is not bounding the probe")

      val filesBefore = dataFiles("fps") + dataFiles("bands") + dataFiles("grams")
      DedupIndex.compact(spark, dir)
      val filesAfter = dataFiles("fps") + dataFiles("bands") + dataFiles("grams")
      assert(filesAfter < filesBefore,
        s"compaction must shrink the file count ($filesBefore -> $filesAfter)")
      val compacted = probe(maxPushdownKeys = 1024)
      assert(compacted < total / 4,
        s"post-compaction probe decoded $compacted of $total rows")

      // pushdown off → the joins still answer correctly but decode the
      // index end to end; the measured gap is the pushdown's win
      val unpushed = probe(maxPushdownKeys = 0)
      assert(unpushed > compacted * 2,
        s"pushdown should cut decoded rows well below the full-scan probe ($compacted vs $unpushed)")
    } finally {
      if (prevBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prevBlock)
    }
  }

  test("end-to-end corpus dedup over 1M docs with planted duplicate structure") {
    // 800k unique docs (id-stamped words → disjoint trigram sets, so
    // LSH bands cannot collide across docs) + 200k exact copies: doc
    // 800000+b and 900000+b copy doc b for b < 100000. Expected
    // components are fully analytic: 100k triples labeled by their base
    // id, 700k singletons — and the WHOLE pipeline runs at volume
    // (fused signatures, band buckets, bucket-size window, clique
    // verification, connected components), not a subsample.
    val docs = spark.range(1000000)
      .select(col("id").as("doc_id"),
        expr("""concat('a', CAST(CASE WHEN id >= 800000 THEN id % 100000 ELSE id END AS STRING),
                       ' b', CAST(CASE WHEN id >= 800000 THEN id % 100000 ELSE id END AS STRING),
                       ' c', CAST(CASE WHEN id >= 800000 THEN id % 100000 ELSE id END AS STRING),
                       ' d', CAST(CASE WHEN id >= 800000 THEN id % 100000 ELSE id END AS STRING),
                       ' e', CAST(CASE WHEN id >= 800000 THEN id % 100000 ELSE id END AS STRING))""")
          .as("text"))

    val labeled = DedupDocs(docs).cache()
    assert(labeled.count() == 1000000)
    assert(labeled.filter(col("is_survivor")).count() == 800000)

    val sizes = labeled.groupBy(col("component")).agg(count(lit(1)).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("groups"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1L -> 700000L, 3L -> 100000L),
      s"component size histogram $sizes")

    // copies are labeled by their base doc, which survives
    val wrongLabel = labeled
      .filter(col("doc_id") >= 800000 && col("component") =!= col("doc_id") % 100000)
      .count()
    assert(wrongLabel == 0)
    labeled.unpersist()
  }

  test("snapshot diff over 1M keys with planted change structure") {
    // old = 1M keyed rows; new = drop every 97th key, bump every 13th
    // surviving payload, insert 10k fresh keys — analytic counts known
    // exactly. One co-partitioned full-outer join; the change feed is
    // aggregated without ever materializing unchanged rows.
    val old = spark.range(1000000)
      .select(col("id").as("k"), (col("id") % 1000).cast("double").as("v"))
    val neu = spark.range(1000000).filter(col("id") % 97 =!= 0)
      .select(col("id").as("k"),
        when(col("id") % 13 === 0, (col("id") % 1000).cast("double") + 1.0)
          .otherwise((col("id") % 1000).cast("double")).as("v"))
      .unionByName(spark.range(2000000, 2010000)
        .select(col("id").as("k"), lit(0.0).as("v")))
    val feed = SnapshotDiff.changes(old, neu, keys = Seq("k"), compareCols = Seq("v"))
    val counts = feed.groupBy(col("change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val deletes = (0 until 1000000).count(_ % 97 == 0)
    val updates = (0 until 1000000).count(i => i % 13 == 0 && i % 97 != 0)
    assert(counts("delete") === deletes.toLong)
    assert(counts("update") === updates.toLong)
    assert(counts("insert") === 10000L)
  }

  test("changefeed over 1M rows with planted delete structure, analytically checked") {
    // base = 1M keyed rows across 8 files; window: append 100k fresh
    // keys, position-delete every 101st base row, tombstone every
    // 97th key (hits base rows only — the appended ids are disjoint
    // and the append file's sequence is past the tombstone's scope).
    // Every feed census is known in closed form; the retraction side
    // must never double-count a row hit by BOTH delete kinds
    // (k % 101 == 0 AND k % 97 == 0: lcm 9797 → 103 rows).
    val d = java.nio.file.Files.createTempDirectory("cdcvol").toString
    val data = s"$d/data"; val root = s"$d/snaps"
    val dv = s"$d/dv"; val eq = s"$d/eq"
    def commit(): Unit = {
      Snapshots.commitFromFs(spark, data, root, Seq("k"),
        posDeleteDir = Some(dv), eqDeleteDir = Some(eq))
      ()
    }
    spark.range(1000000).select(col("id").as("k"))
      .repartition(8).write.parquet(data)
    commit() // s0
    spark.range(2000000, 2100000).select(col("id").as("k"))
      .coalesce(2).write.mode("append").parquet(data)
    DeletionVectors.addDeletes(spark, data, dv, col("k") % 101 === 0 && col("k") < 1000000)
    DeletionVectors.addKeyDeletes(spark, eq,
      spark.range(1000000).filter(col("id") % 97 === 0).select(col("id").as("k")))
    commit() // s1
    val counts = Snapshots.readChangefeed(spark, root, 0L, 1L)
      .groupBy(col("_change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val posDel = (0 until 1000000).count(_ % 101 == 0)
    val eqOnly = (0 until 1000000).count(i => i % 97 == 0 && i % 101 != 0)
    assert(counts("insert") === 100000L)
    assert(counts("delete") === (posDel + eqOnly).toLong,
      s"expected ${posDel + eqOnly} retractions (no double count), got $counts")
    // feed application reproduces the snapshot: |s0| - deletes + inserts
    val n1 = Snapshots.readAt(spark, root, 1L).count()
    assert(n1 === 1000000L - posDel - eqOnly + 100000L)
    // retraction-scan prune set: this window's deletes genuinely reach
    // every base file (pos rows land in all 8 round-robin partitions,
    // tombstone keys span the whole range) — the prune must keep all 8
    // (no lost retraction under pruning); the strict-subset case is
    // pinned in SnapshotsSpec's files-opened test
    val opened = Snapshots.changefeedFromFiles(spark, root, 0L, 1L)
    assert(opened.length === 8, s"expected the 8 base files, got $opened")
  }

  test("dangling-delete prune over 1M positions stays distributed and exact") {
    // the churned-table shape the driver-side prune could not survive:
    // a position table six orders of magnitude past "metadata-sized".
    // 1M rows across 8 files, HALF the table deleted (500k positions),
    // then half the files removed (a compaction absorbing them) — the
    // prune must classify at FILE grain (8 paths driver-side, never
    // position rows) and rewrite the survivors in the cluster.
    val d = java.nio.file.Files.createTempDirectory("dvvol").toString
    spark.range(1000000).select(col("id").as("k"))
      .repartition(8).write.parquet(s"$d/data")
    val n = DeletionVectors.addDeletes(spark, s"$d/data", s"$d/deletes",
      col("k") % 2 === 0)
    assert(n === 500000L)
    val files = new java.io.File(s"$d/data").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
    val victims = files.take(4)
    val victimPos = spark.read.parquet(victims.map(_.getPath): _*)
      .filter(col("k") % 2 === 0).count()
    victims.foreach(f => assert(f.delete()))
    val rep = DeletionVectors.pruneDanglingDeletes(spark, s"$d/data", s"$d/deletes")
    assert(rep.dropped === victimPos)
    assert(rep.kept === 500000L - victimPos)
    // surviving reads stay exact: remaining files minus their vectors
    val got = DeletionVectors.read(spark, s"$d/data", s"$d/deletes").count()
    val expected = spark.read.parquet(s"$d/data").filter(col("k") % 2 =!= 0).count()
    assert(got === expected)
  }

  test("rank-statistic overflow headroom: the decimal spellings stay exact past the long envelope") {
    // Locks in the 511ae52 respellings (a20/a22 AUC numerators,
    // a47/a56 tie cubes, a65 rank moments, a74 ln-factorial cumsum) at
    // sizes PAST the 2^63 envelopes that ghosted two r12 sf1 cells:
    // each pattern runs in-plan over a synthetic frame big enough that
    // a long accumulator (or a long per-term product) would wrap, and
    // must agree EXACTLY with a BigInt driver recompute. A revert of
    // any spelling to long arithmetic fails here under ANSI (overflow
    // error) or on the value (silent wrap) — the next rank-statistic
    // entry inherits a failing test instead of a ghost bench cell.
    val n = 10000000L // 1e7 ranks
    val ranks = spark.range(1, n + 1).toDF("i")

    // (a65) rank second moment: Σ i² ≈ 3.3e20 — a long sum wraps at
    // n ≈ 1.3e6; per-term i² still fits a long (1e14), so the spelling
    // is per-term long product, DECIMAL(38,0) sum
    val s2 = ranks.agg(sum(($"i" * $"i").cast("decimal(38,0)")).as("s"))
      .collect()(0).getDecimal(0)
    val expS2 = BigInt(n) * (n + 1) * (2 * n + 1) / 6
    assert(BigInt(s2.toBigInteger) == expS2, s"rank moment: $s2 != $expS2")

    // (a47/a56) tie cubes: one 5e6-deep tie makes a SINGLE term t³ =
    // 1.25e20 > 2^63 — the multiply itself must happen in decimal
    val cuts = Seq(5000000L, 8000000L) // group sizes 5e6 / 3e6 / 2e6
    val tieCube = spark.range(0, n)
      .select(when($"id" < cuts(0), 0).when($"id" < cuts(1), 1)
        .otherwise(2).as("g"))
      .groupBy($"g").agg(count(lit(1)).as("t"))
      .agg(sum($"t".cast("decimal(38,0)") * $"t" * $"t").as("s"))
      .collect()(0).getDecimal(0)
    val sizes = Seq(5000000L, 3000000L, 2000000L)
    val expCube = sizes.map(t => BigInt(t) * t * t).sum
    assert(BigInt(tieCube.toBigInteger) == expCube,
      s"tie cube: $tieCube != $expCube")

    // (a20/a22) doubled-midrank AUC numerator over the positive class
    // (every 3rd rank): the doubling is exactly the integer-exactness
    // trick — the decimal sum must match the closed form
    val aucNum = ranks.filter($"i" % 3 === 0)
      .agg(sum(($"i" * 2).cast("decimal(38,0)")).as("s"))
      .collect()(0).getDecimal(0)
    val m = n / 3
    val expAuc = BigInt(2) * 3 * m * (m + 1) / 2 // Σ 2·3k, k=1..m
    assert(BigInt(aucNum.toBigInteger) == expAuc, s"AUC num: $aucNum != $expAuc")

    // (a74) quantized-element prefix sum through PrefixSum's decimal
    // carry: 2e6 elements of ~5e12 cross 2^63 inside the RUNNING sum
    // (Σ ≈ 1e19) while each element fits a long — the exact shape of
    // the ln-factorial table, with a closed-form integer element so
    // the driver recompute is engine-independent
    val fn = 2000000L
    val fact = spark.range(1, fn + 1)
      .select($"id".as("i"), (lit(5000000000000L) + $"id").as("v"))
      .withColumn("g", lit(0))
    val cum = PrefixSum.withCumsumDecimal(fact, "g", "i", "v",
        outCol = "cum", knownCount = Some(fn))
      .agg(max($"cum").as("m")).collect()(0).getDecimal(0)
    val expCum = BigInt(5000000000000L) * fn + BigInt(fn) * (fn + 1) / 2
    assert(BigInt(cum.toBigInteger) == expCum, s"prefix sum: $cum != $expCum")
  }
}
