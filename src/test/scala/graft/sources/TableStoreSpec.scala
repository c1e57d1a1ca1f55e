package graft.sources

import graft.SparkTestBase
import graft.model.TableSpec
import graft.operators.CompactedBatch
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

class TableStoreSpec extends SparkTestBase {
  import spark.implicits._

  private val spec = TableSpec(
    "public.t",
    StructType(Seq(StructField("id", IntegerType), StructField("v", StringType))),
    Seq("id"))

  private def newStore(buckets: Int = 8) =
    new ParquetTableStore(spark, tmpDir("store"), spec, buckets)

  private def state(s: TableStore): Map[Int, String] =
    s.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap

  test("init + snapshot round-trips") {
    val s = newStore()
    s.init(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(state(s) == Map(1 -> "a", 2 -> "b"))
  }

  test("merge applies deletes then upserts (M6), replace semantics") {
    val s = newStore()
    s.init(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    s.merge(CompactedBatch(
      deletes = Seq(2).toDF("id"),
      upserts = Seq((1, "a2"), (4, "d")).toDF("id", "v")))
    assert(state(s) == Map(1 -> "a2", 3 -> "c", 4 -> "d"))
  }

  test("reopening with a different bucket count fails loudly, not silently corrupting") {
    val root = tmpDir("store-buckets")
    val s8 = new ParquetTableStore(spark, root, spec, 8)
    s8.init(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    // a different bucket count maps keys to different bucket ids than the
    // on-disk layout: the anti-join would miss the key's true bucket and
    // duplicate updated rows — the manifest's #buckets header must reject it
    val s16 = new ParquetTableStore(spark, root, spec, 16)
    val e = intercept[IllegalArgumentException] {
      s16.merge(CompactedBatch(
        deletes = Seq.empty[Int].toDF("id"),
        upserts = Seq((1, "a2")).toDF("id", "v")))
    }
    assert(e.getMessage.contains("bucket count"))
    // the ORIGINAL count still merges fine and state is uncorrupted
    val again = new ParquetTableStore(spark, root, spec, 8)
    again.merge(CompactedBatch(
      deletes = Seq.empty[Int].toDF("id"),
      upserts = Seq((1, "a2")).toDF("id", "v")))
    assert(state(again) == Map(1 -> "a2", 2 -> "b"))
  }

  test("deleteWhere sweeps matching rows, keeps NULL-predicate rows, versions the commit") {
    import org.apache.spark.sql.functions.col
    val s = new ParquetTableStore(spark, tmpDir("store-del"), spec, 8,
      retainedVersions = 3)
    s.init(Seq((1, "a"), (2, "drop"), (3, "b"), (4, "drop"), (5, null))
      .toDF("id", "v"))
    val n = s.deleteWhere(col("v") === "drop")
    assert(n == 2L)
    assert(state(s) == Map(1 -> "a", 3 -> "b", 5 -> null))
    // the sweep committed a version: time travel still reads the pre-delete
    // state, and changesBetween classifies exactly the two removals
    val Seq(v1, v2) = s.history()
    assert(s.snapshotAt(v1).count() == 5)
    val changed = s.changesBetween(v1, v2)
      .select("id", "change").collect().map(r => r.getInt(0) -> r.getString(1))
    assert(changed.toSet == Set(2 -> "removed", 4 -> "removed"))
    // a no-match sweep is a no-op: zero rows, NO new version committed
    val h = s.history()
    assert(s.deleteWhere(col("v") === "nope") == 0L)
    assert(s.history() == h)
  }

  test("fastCount answers from footers and tracks init, merge, and deleteWhere") {
    import org.apache.spark.sql.functions.col
    val s = newStore()
    s.init((1 to 20).map(i => (i, s"v$i")).toDF("id", "v"))
    assert(s.fastCount() == 20L)
    s.merge(CompactedBatch(
      deletes = Seq(1, 2, 3).toDF("id"),
      upserts = Seq((21, "w")).toDF("id", "v")))
    assert(s.fastCount() == s.snapshot().count())
    s.deleteWhere(col("id") % 2 === 0)
    assert(s.fastCount() == s.snapshot().count())
  }

  test("merge into empty/nonexistent table creates it") {
    val s = newStore()
    s.merge(CompactedBatch(Seq(9).toDF("id"), Seq((1, "a")).toDF("id", "v")))
    assert(state(s) == Map(1 -> "a"))
  }

  test("only affected buckets are rewritten; others untouched") {
    val s = newStore(buckets = 4)
    s.init((1 to 100).map(i => (i, s"v$i")).toDF("id", "v"))
    s.merge(CompactedBatch(Seq(7).toDF("id"), Seq((7, "seven")).toDF("id", "v")))
    val expect = ((1 to 100).map(i => i -> s"v$i").toMap) + (7 -> "seven")
    assert(state(s) == expect)
  }

  test("idempotent re-apply of the same batch (crash-replay safety)") {
    val s = newStore()
    s.init(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val batch = CompactedBatch(Seq(1).toDF("id"), Seq((2, "b2"), (5, "e")).toDF("id", "v"))
    s.merge(batch)
    val once = state(s)
    s.merge(batch)
    assert(state(s) == once && once == Map(2 -> "b2", 5 -> "e"))
  }

  test("crash leftovers before the pointer flip never surface to readers") {
    // both bucketed stores share one commit protocol and one sweep
    val stores: Seq[String => BucketedStore] = Seq(
      root => new ParquetTableStore(spark, root, spec, 8),
      root => new MorTableStore(spark, root, spec, numBuckets = 8))
    for (open <- stores) {
      val rootDir = tmpDir("store")
      val s = open(rootDir)
      s.init(Seq((1, "a"), (2, "b")).toDF("id", "v"))
      val before = state(s)

      // Simulate a merge that staged new bucket dirs and died before the
      // atomic manifest rename: unreferenced dirs + stale manifest temps
      // (the pre-AtomicFiles spelling and AtomicFiles' own).
      val table = new java.io.File(rootDir, "public_t")
      val data = new java.io.File(table, "data")
      val orphan = new java.io.File(data, "3-999999999")
      orphan.mkdirs()
      val leftoverParquet = Seq((99, "GHOST")).toDF("id", "v")
      leftoverParquet.write.mode("overwrite").parquet(orphan.toString + "/inner")
      def plant(name: String): java.io.File = {
        val f = new java.io.File(table, name)
        java.nio.file.Files.writeString(f.toPath, "3\t3-999999999")
        f
      }
      val legacyTmp = plant("_current.tmp.123")
      val commitTmps = Seq("._current.tmp.456", "._v7.tmp.456", "._spec.tmp.456")
        .map(plant)
      // analyze() may run outside the writer: its temp is not the sweep's
      val statsTmp = plant("._stats_v1.tmp.456")

      // Readers still see exactly the committed state.
      assert(state(s) == before)

      // The next merge garbage-collects the orphan and commits atomically.
      s.merge(CompactedBatch(Seq(1).toDF("id"), Seq((4, "d")).toDF("id", "v")))
      assert(state(s) == Map(2 -> "b", 4 -> "d"))
      assert(!orphan.exists())
      assert((legacyTmp +: commitTmps).forall(!_.exists()),
        s"${s.getClass.getSimpleName}: commit temps survived the merge's gc")
      assert(statsTmp.exists())
    }
  }

  test("manifests without the newer headers open, merge and take the headers on commit") {
    def write(f: java.io.File, body: String): Unit = {
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, body)
    }
    def firstLines(f: java.io.File, n: Int): Seq[String] =
      java.nio.file.Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString).take(n)

    // CoW: `_current` and `_v1` with no `#buckets` / `#ts` headers
    val cowRoot = tmpDir("legacy-cow")
    val cowTable = new java.io.File(cowRoot, "public_t")
    Seq((1, "a"), (2, "b")).toDF("id", "v").coalesce(1)
      .write.parquet(new java.io.File(cowTable, "data/0-100").toString)
    Seq("_current", "_v1").foreach(n => write(new java.io.File(cowTable, n), "0\t0-100\n"))
    val cow = new ParquetTableStore(spark, cowRoot, spec, numBuckets = 1)
    assert(state(cow) == Map(1 -> "a", 2 -> "b"))
    assert(cow.history() == Seq(1L) && cow.versionTimestamp(1L).isEmpty)
    assert(cow.snapshotAt(1L).count() == 2)
    cow.merge(CompactedBatch(Seq(1).toDF("id"), Seq((3, "c")).toDF("id", "v")))
    assert(state(cow) == Map(2 -> "b", 3 -> "c"))
    assert(cow.currentVersion == 2L && cow.versionTimestamp(2L).isDefined)
    val cowHead = firstLines(new java.io.File(cowTable, "_current"), 2)
    assert(cowHead.head == "#buckets=1" && cowHead(1).startsWith("#ts="), cowHead)

    // MOR: `_current` with no `#feedfloor` — a stack whose base carries
    // seq 2 (a compacted base), so the estimated floor is 2
    val morRoot = tmpDir("legacy-mor")
    val morTable = new java.io.File(morRoot, "public_t")
    def delta(dir: String, rows: (Int, String, String, Long)*): Unit =
      rows.toDF("id", "v", "_op", "_seq").coalesce(1)
        .write.parquet(new java.io.File(morTable, s"data/$dir").toString)
    delta("0-2-100", (1, "a", "u", 2L), (2, "b", "u", 2L))
    delta("0-3-101", (2, null, "d", 3L), (3, "c", "u", 3L))
    write(new java.io.File(morTable, "_current"), "#buckets=1\n0\t0-2-100,0-3-101\n")
    val mor = new MorTableStore(spark, morRoot, spec, numBuckets = 1)
    assert(state(mor) == Map(1 -> "a", 3 -> "c"))
    assert(mor.history() == Seq(2L, 3L) && mor.feedFloor == 2L)
    assert(mor.snapshotAt(2L).count() == 2)
    mor.merge(CompactedBatch(Seq(1).toDF("id"), Seq((4, "d")).toDF("id", "v")))
    assert(state(mor) == Map(3 -> "c", 4 -> "d"))
    assert(mor.history() == Seq(2L, 3L, 4L))
    assert(firstLines(new java.io.File(morTable, "_current"), 2) ==
      Seq("#buckets=1", "#feedfloor=2"))
  }

  test("a snapshot resolved before a merge stays readable across that merge (1-generation retention)") {
    val s = newStore(buckets = 4)
    s.init(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val before = s.snapshot() // resolves the pre-merge manifest; evaluates lazily
    s.merge(CompactedBatch(Seq(1).toDF("id"), Seq((2, "b2")).toDF("id", "v")))
    // Replaced bucket dirs are retained until the NEXT merge's gc, so the
    // in-flight reader still evaluates against its own consistent manifest.
    assert(before.collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(1 -> "a", 2 -> "b"))
    assert(state(s) == Map(2 -> "b2"))
  }

  test("bulk merge above broadcastKeyLimit stays correct without a forced broadcast") {
    // Limit of 100 keys; the batch changes 3 000 — the guard must drop the
    // broadcast hint (a driver OOM at real scale) and still merge exactly.
    val s = new ParquetTableStore(spark, tmpDir("store"), spec,
      numBuckets = 8, broadcastKeyLimit = 100L)
    s.init((1 to 5000).map(i => (i, s"v$i")).toDF("id", "v"))
    s.merge(CompactedBatch(
      deletes = (1 to 1000).toDF("id"),
      upserts = (1001 to 3000).map(i => (i, s"u$i")).toDF("id", "v")))
    val expect = (1001 to 3000).map(i => i -> s"u$i").toMap ++
      (3001 to 5000).map(i => i -> s"v$i").toMap
    assert(state(s) == expect)
  }

  test("small merge below broadcastKeyLimit still broadcasts the key set") {
    // The streaming path (micro-batches ≤ maxOffsetsPerTrigger) must keep
    // the broadcast anti-join: no shuffle of the big current-bucket side.
    val s = newStore()
    s.init((1 to 100).map(i => (i, s"v$i")).toDF("id", "v"))
    s.merge(CompactedBatch(Seq(1).toDF("id"), Seq((1, "one")).toDF("id", "v")))
    assert(state(s) == ((2 to 100).map(i => i -> s"v$i").toMap) + (1 -> "one"))
  }

  test("explicit gc() drops replaced dirs after a final merge") {
    val rootDir = tmpDir("store")
    val s = new ParquetTableStore(spark, rootDir, spec, 2)
    s.init(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    s.merge(CompactedBatch(Seq(1).toDF("id"), Seq((2, "b2")).toDF("id", "v")))
    val data = new java.io.File(rootDir, "public_t/data")
    val before = data.list().length
    s.gc() // end-of-stream: replaced dirs from the last merge are reclaimed
    assert(data.list().length < before)
    assert(state(s) == Map(2 -> "b2"))
  }

  test("a batch deleting a whole bucket removes it from the manifest") {
    val s = newStore(buckets = 2)
    s.init(Seq((1, "a")).toDF("id", "v"))
    s.merge(CompactedBatch(Seq(1).toDF("id"),
      spark.emptyDataFrame.select(lit(0).as("id"), lit("").as("v")).limit(0)))
    assert(state(s) == Map.empty)
  }

  test("rebucketing = init on a store with the new count over the old snapshot") {
    // the documented migration path for the bucket-count guard: a full
    // rewrite via init adopts the new count atomically (new manifest
    // header), and merges under the new store keep working
    val dir = tmpDir("rebucket")
    val s8 = new ParquetTableStore(spark, dir, spec, 8)
    s8.init((1 to 100).map(i => (i, s"v$i")).toDF("id", "v"))
    val s32 = new ParquetTableStore(spark, dir, spec, 32)
    s32.init(s8.snapshot())
    assert(state(s32) == (1 to 100).map(i => i -> s"v$i").toMap)
    s32.merge(CompactedBatch(Seq(1).toDF("id"), Seq((2, "b2")).toDF("id", "v")))
    assert(state(s32).get(2).contains("b2") && !state(s32).contains(1))
    // the OLD count now fails the guard instead of corrupting
    val stale = new ParquetTableStore(spark, dir, spec, 8)
    val e = intercept[IllegalArgumentException](
      stale.merge(CompactedBatch(Seq(3).toDF("id"),
        Seq((4, "x")).toDF("id", "v"))))
    assert(e.getMessage.contains("bucket"))
  }

  test("snapshotForKeys returns exactly the requested live keys") {
    val s = newStore(buckets = 16)
    s.init((1 to 200).map(i => (i, s"v$i")).toDF("id", "v"))
    s.merge(CompactedBatch(Seq(5).toDF("id"), Seq((7, "v7b")).toDF("id", "v")))
    val got = s.snapshotForKeys(Seq(5, 7, 42, 9999).toDF("id"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    // 5 deleted, 9999 never present, 7 updated, 42 untouched
    assert(got == Map(7 -> "v7b", 42 -> "v42"))
  }

  test("bucket files are PK-sorted so key predicates can skip row groups") {
    val s = newStore(buckets = 4)
    // insertion order deliberately scrambled
    s.init(scala.util.Random.shuffle((1 to 400).toList).map(i => (i, s"v$i")).toDF("id", "v"))
    val files = s.snapshot().inputFiles
    assert(files.nonEmpty)
    files.foreach { f =>
      val ids = spark.read.parquet(f).select("id").collect().map(_.getInt(0)).toSeq
      assert(ids == ids.sorted, s"bucket file $f not PK-sorted")
    }
  }

  test("bucket files carry a parquet bloom filter on the key column") {
    val s = newStore(buckets = 2)
    s.init((1 to 300).map(i => (i, s"v$i")).toDF("id", "v"))
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    s.snapshot().inputFiles.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try {
        val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
        val id = cols.find(_.getPath.toDotString == "id").get
        assert(id.getBloomFilterOffset > 0, s"no bloom filter on id in $f")
        val v = cols.find(_.getPath.toDotString == "v").get
        assert(v.getBloomFilterOffset <= 0, "bloom must cover key columns only")
      } finally reader.close()
    }
  }

  test("small key sets push an In filter into the scan; large ones skip it") {
    val s = newStore(buckets = 4)
    s.init((1 to 300).map(i => (i, s"v$i")).toDF("id", "v"))
    val lookup = s.snapshotForKeys(Seq(3, 7).toDF("id"))
    val p = lookup.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters: [In(id"),
      s"point lookup must push the key In filter:\n$p")
    assert(lookup.collect().map(r => r.getInt(0)).sorted.toSeq == Seq(3, 7))
    // above the limit: no In pushdown, still exact via the semi join
    val wide = new ParquetTableStore(spark, tmpDir("store"), spec, 4,
      broadcastKeyLimit = 1000000L, inFilterLimit = 1L)
    wide.init((1 to 50).map(i => (i, s"v$i")).toDF("id", "v"))
    val lk2 = wide.snapshotForKeys(Seq(5, 6).toDF("id"))
    val p2 = lk2.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p2.contains("PushedFilters: [In(id"))
    assert(lk2.collect().map(r => r.getInt(0)).sorted.toSeq == Seq(5, 6))
  }

  test("snapshotForKeys reads only the buckets that can hold the keys") {
    val s = newStore(buckets = 16)
    s.init((1 to 400).map(i => (i, s"v$i")).toDF("id", "v"))
    val full = s.snapshot().inputFiles.length
    assert(full >= 8, s"expected a multi-bucket table, got $full files")
    val lookup = s.snapshotForKeys(Seq(3).toDF("id"))
    assert(lookup.inputFiles.length < full,
      s"point lookup must prune bucket dirs (read ${lookup.inputFiles.length} of $full)")
    assert(lookup.collect().map(r => r.getInt(0)).toSeq == Seq(3))
  }

  private def stateAt(s: ParquetTableStore, v: Long): Map[Int, String] =
    s.snapshotAt(v).collect().map(r => r.getInt(0) -> r.getString(1)).toMap

  test("time travel: retained versions replay each committed state exactly") {
    val s = new ParquetTableStore(spark, tmpDir("store"), spec, 4,
      retainedVersions = 3)
    s.init(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    s.merge(CompactedBatch(Seq(2).toDF("id"), Seq((3, "c")).toDF("id", "v")))
    s.merge(CompactedBatch(Seq(1).toDF("id"), Seq((3, "c2")).toDF("id", "v")))
    val Seq(v1, v2, v3) = s.history()
    assert(stateAt(s, v1) == Map(1 -> "a", 2 -> "b"))
    assert(stateAt(s, v2) == Map(1 -> "a", 3 -> "c"))
    assert(stateAt(s, v3) == Map(3 -> "c2"))
    assert(stateAt(s, v3) == state(s), "latest version must equal snapshot()")
  }

  test("time travel: changesBetween classifies the inter-version delta") {
    val s = new ParquetTableStore(spark, tmpDir("store"), spec, 4,
      retainedVersions = 3)
    s.init(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    s.merge(CompactedBatch(Seq(2).toDF("id"),
      Seq((3, "c2"), (4, "d")).toDF("id", "v")))
    val Seq(v1, v2) = s.history()
    val changes = s.changesBetween(v1, v2).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(changes == Map(2 -> "removed", 3 -> "changed", 4 -> "added"))
    val err = intercept[IllegalArgumentException](s.changesBetween(v2, v1))
    assert(err.getMessage.contains("fromVersion < toVersion"))
  }

  test("time travel: versions age out of retention and read fails loudly") {
    val s = new ParquetTableStore(spark, tmpDir("store"), spec, 4,
      retainedVersions = 2)
    s.init(Seq((1, "a")).toDF("id", "v"))
    s.merge(CompactedBatch(Seq(1).toDF("id"), Seq((1, "a2")).toDF("id", "v")))
    val v1 = s.history().head
    s.merge(CompactedBatch(Seq(1).toDF("id"), Seq((1, "a3")).toDF("id", "v")))
    // retention applies at gc time (start of the next merge, or explicit):
    // same deferred contract as data-dir reclamation
    s.gc()
    assert(s.history().size == 2 && !s.history().contains(v1))
    val err = intercept[IllegalArgumentException](s.snapshotAt(v1))
    assert(err.getMessage.contains("no retained version"))
    assert(stateAt(s, s.history().last) == Map(1 -> "a3"))
  }

  test("time travel: default retention keeps the original storage footprint") {
    val rootDir = tmpDir("store")
    val s = new ParquetTableStore(spark, rootDir, spec, 2)
    s.init(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    s.merge(CompactedBatch(Seq(1).toDF("id"), Seq((2, "b2")).toDF("id", "v")))
    s.merge(CompactedBatch(Seq(2).toDF("id"), Seq((2, "b3")).toDF("id", "v")))
    s.gc()
    // retention 1: exactly the live layout's dirs and one _v file survive
    assert(s.history().size == 1)
    val data = new java.io.File(rootDir, "public_t/data")
    val manifest = scala.io.Source.fromFile(
      new java.io.File(rootDir, "public_t/_current"))
    val liveDirs = try manifest.getLines().filterNot(_.startsWith("#"))
      .map(_.split('\t')(1)).toSet finally manifest.close()
    assert(data.list().toSet == liveDirs)
  }

  test("analyze persists version-stamped stats; staleBy tracks later commits") {
    val s = new ParquetTableStore(spark, tmpDir("store-stats"), spec, 4,
      retainedVersions = 3)
    s.init(Seq((1, "a"), (2, "b"), (3, null.asInstanceOf[String]))
      .toDF("id", "v"))
    assert(s.stats().isEmpty, "no stats before the first analyze")
    val t0 = s.analyze()
    assert(t0.nRows == 3 && t0.staleBy == 0)
    assert(t0.bytes.exists(_ > 0L), "analyze must record on-disk bytes")
    assert(s.stats().get.bytes == t0.bytes,
      "bytes must round-trip through the persisted record")
    val byName = t0.columns.map(c => c.name -> c).toMap
    assert(byName("id").nNonNull == 3 && byName("v").nNonNull == 2)
    assert(byName("id").ndvEst == 3 && byName("v").ndvEst == 2)
    assert(byName("id").minStr.contains("1") && byName("id").maxStr.contains("3"))
    assert(byName("v").minStr.contains("a") && byName("v").maxStr.contains("b"))
    // two more commits: the persisted record stays, staleness is reported
    s.merge(CompactedBatch(Seq(1).toDF("id"), Seq((4, "d")).toDF("id", "v")))
    s.merge(CompactedBatch(Seq.empty[Int].toDF("id"), Seq((5, "e")).toDF("id", "v")))
    val stale = s.stats().get
    assert(stale.version == t0.version && stale.staleBy == 2,
      s"stats must report exactly how far behind they are: $stale")
    assert(stale.nRows == 3, "the record still describes ITS version")
    // the stats describe snapshotAt(version) exactly (version retained)
    assert(s.snapshotAt(stale.version).count() == stale.nRows)
    // re-analyze: fresh record at the current version
    val t1 = s.analyze()
    assert(t1.staleBy == 0 && t1.nRows == 4)
    assert(s.stats().get.version == t1.version)
  }

  test("clusterCols layout: bucket files sort and row-group stats band by the cluster column") {
    import scala.jdk.CollectionConverters._
    val cSpec = TableSpec("public.tc",
      StructType(Seq(StructField("id", IntegerType), StructField("ts", LongType),
        StructField("v", StringType))), Seq("id"))
    val conf = spark.sparkContext.hadoopConfiguration
    val oldBlock = conf.get("parquet.block.size")
    conf.set("parquet.block.size", "16384") // force several row groups per file
    try {
      val s = new ParquetTableStore(spark, tmpDir("store"), cSpec, 2,
        clusterCols = Seq("ts"))
      // ts deliberately uncorrelated with pk and scrambled
      val rows = scala.util.Random.shuffle((1 to 6000).toList)
        .map(i => (i, ((i * 2654435761L) % 1000000L), s"pad-$i-${"x" * 40}"))
      s.init(rows.toDF("id", "ts", "v"))
      // a merge must preserve the clustered layout too
      s.merge(CompactedBatch(Seq(5).toDF("id"),
        Seq((6001, 123L, "m")).toDF("id", "ts", "v")))
      var multiGroup = false
      s.snapshot().inputFiles.foreach { f =>
        val ts = spark.read.parquet(f).select("ts").collect().map(_.getLong(0)).toSeq
        assert(ts == ts.sorted, s"bucket file $f not cluster-sorted")
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), conf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          if (blocks.size > 1) {
            multiGroup = true
            val ranges = blocks.map { b =>
              val c = b.getColumns.asScala.find(_.getPath.toDotString == "ts").get
              val st = c.getStatistics
              (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
            }
            ranges.sliding(2).foreach { case Seq((_, max1), (min2, _)) =>
              assert(max1 <= min2,
                s"row-group ts ranges must not interleave in $f: $ranges")
            }
          }
        } finally reader.close()
      }
      assert(multiGroup, "fixture must produce multi-row-group files to prove banding")
    } finally {
      if (oldBlock == null) conf.unset("parquet.block.size")
      else conf.set("parquet.block.size", oldBlock)
    }
  }

  test("clusterCols must be table columns") {
    intercept[IllegalArgumentException] {
      new ParquetTableStore(spark, tmpDir("store"), spec, 4,
        clusterCols = Seq("nope"))
    }
  }

  test("version diffs scan only the buckets whose manifest entry changed") {
    val s = new ParquetTableStore(spark, tmpDir("store"), spec, 8,
      retainedVersions = 2)
    s.init((1 to 400).map(i => (i, s"v$i")).toDF("id", "v"))
    // a one-key batch touches ONE bucket of eight
    s.merge(CompactedBatch(Seq(7).toDF("id"),
      Seq((401, "new")).toDF("id", "v")))
    val Seq(v1, v2) = s.history()
    val feed = s.changeFeedBetween(v1, v2)
    // the feed's scan roots must all be CHANGED dirs — dirs shared by both
    // manifests (the other seven buckets) must not appear in the plan
    def dirNames(v: Long) =
      s.dataDirsAt(v).map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    val shared = dirNames(v1).intersect(dirNames(v2))
    assert(shared.nonEmpty, "fixture must leave untouched buckets to prove pruning")
    val roots = feed.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.getName)
          case _ => Nil
        }
    }.flatten
    assert(roots.nonEmpty && roots.forall(d => !shared.contains(d)),
      s"feed must scan only changed bucket dirs, scanned: $roots")
    // and the pruned feed still equals the full-snapshot diff
    val full = graft.operators.SnapshotDiff.changeFeed(
      s.snapshotAt(v1), s.snapshotAt(v2), Seq("id"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    val pruned = feed
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(pruned === full)
    assert(pruned.map(t => (t._1, t._3)) ===
      Set((7, "delete"), (401, "insert")))
  }
}
