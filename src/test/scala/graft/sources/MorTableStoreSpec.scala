package graft.sources

import graft.SparkTestBase
import graft.model.TableSpec
import graft.operators.CompactedBatch
import org.apache.spark.sql.types._

/** Merge-on-read store: replace semantics, delta-stack growth and
  * compaction, the write-amplification contract (a merge writes only
  * delta-sized dirs), and replay equivalence against the copy-on-write
  * store under an identical batch sequence.
  */
class MorTableStoreSpec extends SparkTestBase {
  import spark.implicits._

  private val spec = TableSpec(
    "public.m",
    StructType(Seq(StructField("id", IntegerType), StructField("v", StringType))),
    Seq("id"))

  private def newStore(threshold: Int = 8) =
    new MorTableStore(spark, tmpDir("mor"), spec, numBuckets = 4,
      compactThreshold = threshold)

  private def state(s: TableStore): Map[Int, String] =
    s.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap

  test("init + merge: newest wins, deletes tombstone, re-insert revives") {
    val s = newStore()
    s.init(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    s.merge(CompactedBatch(
      deletes = Seq(2).toDF("id"),
      upserts = Seq((1, "a2"), (4, "d")).toDF("id", "v")))
    assert(state(s) == Map(1 -> "a2", 3 -> "c", 4 -> "d"))
    // the tombstoned key revives on a later upsert (higher seq wins)
    s.merge(CompactedBatch(
      deletes = Seq.empty[Int].toDF("id"),
      upserts = Seq((2, "b2")).toDF("id", "v")))
    assert(state(s) == Map(1 -> "a2", 2 -> "b2", 3 -> "c", 4 -> "d"))
  }

  test("merge writes only delta dirs; compact folds the stack and drops tombstones") {
    val s = newStore(threshold = 3)
    s.init((1 to 12).map(i => (i, s"v$i")).toDF("id", "v"))
    val depthAfterInit = s.stackDepths().values.max
    assert(depthAfterInit == 1)
    s.merge(CompactedBatch(Seq(1).toDF("id"), Seq((2, "x")).toDF("id", "v")))
    s.merge(CompactedBatch(Seq(3).toDF("id"), Seq((4, "y")).toDF("id", "v")))
    // stacks grew by exactly the touched buckets' delta dirs
    assert(s.stackDepths().values.max >= 2)
    val before = state(s)
    val folded = s.compact()
    assert(folded >= 1, "at least one bucket must cross the threshold")
    assert(state(s) == before, "compaction must not change the table")
    assert(s.stackDepths().filter(_._2 >= 3).isEmpty, "no stack left at threshold")
    // a second compact with nothing to do is a no-op
    assert(s.compact() == 0)
  }

  test("whole-bucket deletion folds the bucket out of the manifest") {
    val s = newStore(threshold = 2)
    s.init(Seq((1, "a")).toDF("id", "v"))
    s.merge(CompactedBatch(Seq(1).toDF("id"), Seq.empty[(Int, String)].toDF("id", "v")))
    assert(state(s).isEmpty)
    s.compact()
    assert(state(s).isEmpty)
    assert(s.stackDepths().values.forall(_ == 1) || s.stackDepths().isEmpty)
  }

  test("replay equivalence: MOR and CoW converge under the same batch sequence") {
    val mor = newStore(threshold = 2)
    val cow = new ParquetTableStore(spark, tmpDir("cow-twin"), spec, 4)
    val rnd = new scala.util.Random(7)
    val init = (1 to 40).map(i => (i, s"v$i"))
    mor.init(init.toDF("id", "v"))
    cow.init(init.toDF("id", "v"))
    for (round <- 1 to 4) {
      val dels = rnd.shuffle((1 to 40).toList).take(5)
      val ups = rnd.shuffle((1 to 44).toList).take(6)
        .filterNot(dels.contains).map(i => (i, s"r$round-$i"))
      val batch = CompactedBatch(dels.toDF("id"), ups.toDF("id", "v"))
      mor.merge(batch)
      cow.merge(batch)
      if (round == 2) mor.compact() // interleave a compaction mid-sequence
      assert(state(mor) == state(cow), s"diverged at round $round")
    }
  }

  test("snapshotForKeys resolves only the probed buckets, newest wins") {
    val s = newStore(threshold = 4)
    s.init((1 to 20).map(i => (i, s"v$i")).toDF("id", "v"))
    s.merge(CompactedBatch(Seq(5).toDF("id"), Seq((6, "x")).toDF("id", "v")))
    val got = s.snapshotForKeys(Seq(5, 6, 7, 99).toDF("id"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(6 -> "x", 7 -> "v7"), "tombstoned 5 and absent 99 must miss")
  }

  test("autoCompact: a streaming replay self-compacts by policy, snapshot converges") {
    import graft.model.TableRegistry
    val registry = TableRegistry(Map("demo.m" -> "public.m"),
      Map("public.m" -> spec))
    val store = new MorTableStore(spark, tmpDir("mor-auto"), spec,
      numBuckets = 2, compactThreshold = 2, autoCompact = true)
    store.init(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    // six replay files → six micro-batches at maxFilesPerTrigger = 1; each
    // merge adds a delta dir per touched bucket, so WITHOUT the policy the
    // stacks would reach depth 7
    val in = tmpDir("mor-auto-in")
    def env(i: Int, op: String, v: String) =
      s"""{"database":"demo","table":"m","type":"$op","ts":1,""" +
        s""""data":{"id":$i,"v":"$v"}}"""
    val files = Seq(
      Seq(env(1, "update", "a1"), env(4, "insert", "d")),
      Seq(env(2, "delete", "b")),
      Seq(env(3, "update", "c1")),
      Seq(env(2, "insert", "b2")),
      Seq(env(4, "update", "d1")),
      Seq(env(5, "insert", "e")))
    files.zipWithIndex.foreach { case (lines, i) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(in, f"f$i%03d.json"),
        lines.mkString("\n").getBytes("UTF-8"))
      Thread.sleep(5) // distinct mtimes → deterministic arrival order
    }
    val q = graft.streaming.CdcPipeline.fileMaxwellStream(
      spark, in, registry, Map("public.m" -> store),
      checkpointDir = tmpDir("mor-auto-ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxFilesPerTrigger = 1)
    assert(q.awaitTermination(120000), "replay must drain")
    assert(state(store) ==
      Map(1 -> "a1", 3 -> "c1", 2 -> "b2", 4 -> "d1", 5 -> "e"))
    // the policy kept every stack bounded with NO manual call — the
    // prefix fold leaves at most (folded base + the newest kept delta),
    // never the unbounded depth-7 the replay would otherwise build
    assert(store.stackDepths().values.forall(_ <= 2),
      s"auto-compaction must bound stacks: ${store.stackDepths()}")
    // and BECAUSE it folds only the prefix, the floor never outran the
    // last merge: a consumer that synced through the previous merge can
    // still read the feed of the batch that triggered the compaction
    assert(store.feedFloor < store.currentSeq,
      s"auto-compaction must not strand a per-merge-cadence consumer: " +
        s"floor=${store.feedFloor} current=${store.currentSeq}")
    assert(store.changeFeedSince(store.currentSeq - 1).columns
      .contains("_change"))
  }

  test("a staging copy left by a killed merge or compaction is swept by the next write") {
    val root = tmpDir("mor-staging")
    val s = new MorTableStore(spark, root, spec, numBuckets = 4)
    s.init(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    // a write killed between its parquet write and its staging cleanup
    def plant(token: Int): java.io.File = {
      val staging = new java.io.File(root, s"public_m/.staging_$token")
      Seq((99, "GHOST", "u", 1L)).toDF("id", "v", "_op", "_seq")
        .write.parquet(new java.io.File(staging, "_bucket=0").toString)
      staging
    }
    val staging = plant(123)
    assert(state(s) == Map(1 -> "a", 2 -> "b"))
    s.merge(CompactedBatch(Seq(1).toDF("id"), Seq((3, "c")).toDF("id", "v")))
    assert(!staging.exists(), "the next merge must sweep the staging copy")
    assert(state(s) == Map(2 -> "b", 3 -> "c"))
    // a compaction-only schedule sweeps too, even with nothing to fold
    val again = plant(456)
    assert(s.compact() == 0)
    assert(!again.exists(), "the next compact must sweep the staging copy")
    assert(state(s) == Map(2 -> "b", 3 -> "c"))
  }

  test("reopening with a different bucket count fails loudly") {
    val root = tmpDir("mor-buckets")
    val s4 = new MorTableStore(spark, root, spec, numBuckets = 4)
    s4.init(Seq((1, "a")).toDF("id", "v"))
    val s8 = new MorTableStore(spark, root, spec, numBuckets = 8)
    val e = intercept[IllegalArgumentException] {
      s8.merge(CompactedBatch(Seq.empty[Int].toDF("id"),
        Seq((1, "a2")).toDF("id", "v")))
    }
    assert(e.getMessage.contains("bucket"))
    // compact rewrites buckets too: under the wrong count it would fold
    // rows into the wrong buckets
    val c = intercept[IllegalArgumentException](s8.compact())
    assert(c.getMessage.contains("bucket"))
  }

  // ── change feed from the delta stacks ────────────────────────────────────

  private def feedRows(df: org.apache.spark.sql.DataFrame): Set[(Int, String, String)] =
    df.collect().map(r => (r.getInt(0),
      Option(r.getString(1)).getOrElse("∅"), r.getString(2))).toSet

  test("changeFeedSince nets multi-op history into pre/post images") {
    val s = newStore()
    s.init((1 to 50).map(i => (i, s"v$i")).toDF("id", "v"))
    val c0 = s.currentSeq
    // two merges between cursor reads: 1 updated twice (net = one update
    // pair), 2 deleted, 60 inserted-then-updated (net = one insert),
    // 3 updated then deleted (net = one delete), 4 upserted byte-identical
    // (net = NOTHING)
    s.merge(CompactedBatch(Seq(2).toDF("id"),
      Seq((1, "x1"), (60, "n1"), (3, "x3"), (4, "v4")).toDF("id", "v")))
    s.merge(CompactedBatch(Seq(3).toDF("id"),
      Seq((1, "x2"), (60, "n2")).toDF("id", "v")))
    assert(feedRows(s.changeFeedSince(c0)) === Set(
      (1, "v1", "update_pre"), (1, "x2", "update_post"),
      (2, "v2", "delete"),
      (60, "n2", "insert"),
      (3, "v3", "delete")))
    // cursor advance: a feed from the new cursor is empty
    assert(s.changeFeedSince(s.currentSeq).count() === 0L)
  }

  test("changeFeedSince reads only stacks with deltas past the cursor") {
    val s = newStore()
    s.init((1 to 200).map(i => (i, s"v$i")).toDF("id", "v"))
    val c0 = s.currentSeq
    s.merge(CompactedBatch(Seq.empty[Int].toDF("id"),
      Seq((7, "u7")).toDF("id", "v"))) // one key → one bucket's stack
    val feed = s.changeFeedSince(c0)
    val roots = feed.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.getName)
          case _ => Nil
        }
    }.flatten
    // 4 buckets exist; only the touched bucket's stack (base + delta = 2
    // dirs of one bucket id) may be scanned
    val bucketIds = roots.map(_.split("-")(0)).distinct
    assert(bucketIds.size === 1,
      s"feed must read one bucket's stack, scanned: $roots")
    assert(feedRows(feed) === Set((7, "v7", "update_pre"), (7, "u7", "update_post")))
  }

  test("compaction advances the feed floor and old cursors fail loudly") {
    val s = newStore(threshold = 2)
    s.init((1 to 30).map(i => (i, s"v$i")).toDF("id", "v"))
    val c0 = s.currentSeq
    s.merge(CompactedBatch(Seq(1).toDF("id"), Seq((31, "n")).toDF("id", "v")))
    assert(s.feedFloor === 0L)
    assert(s.compact() >= 1)
    assert(s.feedFloor > c0, "fold must advance the floor")
    val e = intercept[IllegalArgumentException](s.changeFeedSince(c0))
    assert(e.getMessage.contains("compacted"))
    // a consumer re-baselined at the floor reads fresh changes fine
    val c1 = s.currentSeq
    s.merge(CompactedBatch(Seq(5).toDF("id"), Seq.empty[(Int, String)].toDF("id", "v")))
    assert(feedRows(s.changeFeedSince(c1)) === Set((5, "v5", "delete")))
  }

  test("MOR feed drives single-table MV maintenance to table truth") {
    import graft.plans.MaterializedView
    import org.apache.spark.sql.functions._
    val mSpec = TableSpec("public.mfm", StructType(Seq(
      StructField("id", LongType), StructField("g", StringType),
      StructField("m", LongType))), Seq("id"))
    val s = new MorTableStore(spark, tmpDir("mor-mv"), mSpec, numBuckets = 4)
    val rnd = new scala.util.Random(71)
    var rows = (1L to 150L).map(i => (i, s"g${rnd.nextInt(5)}", rnd.nextInt(100).toLong))
    s.init(rows.toDF("id", "g", "m"))
    val base = tmpDir("mor-mv-base")
    s.snapshot().write.mode("overwrite").parquet(base)
    var d = MaterializedView.build(spark, base, Seq("g"), Seq("m"),
      tmpDir("mor-mv-sum"))
    try {
      var cursor = s.currentSeq
      (1 to 3).foreach { round =>
        val delIds = rnd.shuffle(rows.map(_._1).toList).take(8)
        val ups = rnd.shuffle((1L to 160L).toList).take(10)
          .filterNot(delIds.contains)
          .map(i => (i, s"g${rnd.nextInt(5)}", rnd.nextInt(100).toLong))
        s.merge(CompactedBatch(delIds.toDF("id"), ups.toDF("id", "g", "m")))
        rows = rows.filterNot(r => delIds.contains(r._1))
          .filterNot(r => ups.exists(_._1 == r._1)) ++ ups
        d = MaterializedView.refreshFromFeed(spark, base,
          s.changeFeedSince(cursor), base = Some(s.snapshot()))
        cursor = s.currentSeq
        val want = rows.groupBy(_._2).map { case (g, rs) =>
          (g, rs.size.toLong, rs.map(_._3).sum, rs.map(_._3).min, rs.map(_._3).max)
        }.toSet
        val got = spark.read.parquet(d.summaryPath)
          .select(col("g"), col("cnt"), col("s_m"), col("mn_m"), col("mx_m"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).toSet
        assert(got === want, s"MOR-fed MV diverged at round $round")
      }
    } finally MaterializedView.unregister(base)
  }

  test("versioned surface: snapshotAt replays any seq, history tracks the floor") {
    val s = newStore(threshold = 2)
    s.init(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    assert(s.currentVersion == 0L)
    s.merge(CompactedBatch(Seq(2).toDF("id"), Seq((4, "d")).toDF("id", "v")))
    s.merge(CompactedBatch(Seq.empty[Int].toDF("id"),
      Seq((1, "a2")).toDF("id", "v")))
    assert(s.currentVersion == 2L)
    assert(s.history() == Seq(0L, 1L, 2L))
    def at(v: Long): Map[Int, String] = s.snapshotAt(v).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(at(0L) == Map(1 -> "a", 2 -> "b", 3 -> "c"))
    assert(at(1L) == Map(1 -> "a", 3 -> "c", 4 -> "d"))
    assert(at(2L) == Map(1 -> "a2", 3 -> "c", 4 -> "d"))
    assert(at(2L) == state(s))
    // dataDirsAt(version) is exactly the stack prefix a snapshotAt reads
    assert(s.dataDirsAt(0L).toSet.subsetOf(s.dataDirsAt(2L).toSet))
    intercept[IllegalArgumentException](s.snapshotAt(3L))
    // compaction folds history: the floor advances past seq 0 and 1
    val folded = s.compact()
    assert(folded >= 1)
    intercept[IllegalArgumentException](s.snapshotAt(0L))
    assert(at(s.currentVersion) == Map(1 -> "a2", 3 -> "c", 4 -> "d"))
  }

  test("changeFeedBetween bounds the feed at toVersion (vs changeFeedSince)") {
    val s = newStore()
    s.init(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    s.merge(CompactedBatch(Seq(2).toDF("id"), Seq((3, "c")).toDF("id", "v")))
    s.merge(CompactedBatch(Seq.empty[Int].toDF("id"),
      Seq((1, "a2"), (2, "b2")).toDF("id", "v")))
    def feed(from: Long, to: Long): Set[(Int, String, String)] =
      s.changeFeedBetween(from, to).collect()
        .map(r => (r.getInt(0), Option(r.getString(1)).getOrElse("-"),
          r.getString(2))).toSet
    // (0, 1]: the first batch alone — key 2 deleted, key 3 inserted
    assert(feed(0L, 1L) === Set((2, "b", "delete"), (3, "c", "insert")))
    // (0, 2]: netted across both batches — key 2's delete+re-upsert nets
    // to an update pair, key 1's update surfaces, key 3 still an insert
    assert(feed(0L, 2L) === Set(
      (1, "a", "update_pre"), (1, "a2", "update_post"),
      (2, "b", "update_pre"), (2, "b2", "update_post"),
      (3, "c", "insert")))
    assert(feed(2L, 2L).isEmpty)
    intercept[IllegalArgumentException](s.changeFeedBetween(0L, 3L))
    // the unbounded read is the (cursor, head] special case
    assert(s.changeFeedSince(0L).collect().length ==
      s.changeFeedBetween(0L, 2L).collect().length)
  }
}
