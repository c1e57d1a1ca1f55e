package graft.streaming

import graft.SparkTestBase
import graft.model.{TableRegistry, TableSpec}
import graft.parse.MaxwellParser
import graft.sources.ParquetTableStore
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.file.attribute.FileTime

class CdcPipelineSpec extends SparkTestBase {

  private val spec = TableSpec(
    "public.test",
    StructType(Seq(StructField("id", IntegerType), StructField("name", StringType))),
    Seq("id"))
  private val registry = TableRegistry(
    Map("demo.test" -> "public.test"), Map("public.test" -> spec))

  test("file-backed maxwell stream syncs inserts/updates/deletes end-to-end") {
    val in = tmpDir("cdc-in")
    val ckpt = tmpDir("cdc-ckpt")
    val storeRoot = tmpDir("cdc-store")
    val store = new ParquetTableStore(spark, storeRoot, spec, 4)

    def writeBatch(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(in, name), String.join("\n", lines: _*).getBytes,
        StandardOpenOption.CREATE)

    writeBatch("b0.json", Seq(
      """{"database":"demo","table":"test","type":"insert","ts":1,"data":{"id":1,"name":"a"}}""",
      """{"database":"demo","table":"test","type":"insert","ts":2,"data":{"id":2,"name":"b"}}""",
      """{"database":"other","table":"x","type":"insert","ts":2,"data":{"id":9}}"""))

    val q = CdcPipeline.fileMaxwellStream(
      spark, in, registry, Map("public.test" -> store), ckpt,
      Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      assert(store.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
        Map(1 -> "a", 2 -> "b"))

      writeBatch("b1.json", Seq(
        """{"database":"demo","table":"test","type":"update","ts":3,"data":{"id":2,"name":"b2"},"old":{"name":"b"}}""",
        """{"database":"demo","table":"test","type":"delete","ts":4,"data":{"id":1,"name":"a"}}""",
        """{"database":"demo","table":"test","type":"insert","ts":5,"data":{"id":3,"name":"c"}}"""))
      q.processAllAvailable()
      assert(store.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
        Map(2 -> "b2", 3 -> "c"))
    } finally q.stop()
  }

  test("maxwell stream into the merge-on-read sink converges like the CoW sink") {
    val in = tmpDir("cdc-mor-in")
    val ckpt = tmpDir("cdc-mor-ckpt")
    val store = new graft.sources.MorTableStore(
      spark, tmpDir("cdc-mor-store"), spec, numBuckets = 4, compactThreshold = 2)

    def writeBatch(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(in, name), String.join("\n", lines: _*).getBytes,
        StandardOpenOption.CREATE)

    writeBatch("b0.json", Seq(
      """{"database":"demo","table":"test","type":"insert","ts":1,"data":{"id":1,"name":"a"}}""",
      """{"database":"demo","table":"test","type":"insert","ts":2,"data":{"id":2,"name":"b"}}"""))

    val q = CdcPipeline.fileMaxwellStream(
      spark, in, registry, Map("public.test" -> store), ckpt,
      Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      writeBatch("b1.json", Seq(
        """{"database":"demo","table":"test","type":"update","ts":3,"data":{"id":2,"name":"b2"},"old":{"name":"b"}}""",
        """{"database":"demo","table":"test","type":"delete","ts":4,"data":{"id":1,"name":"a"}}""",
        """{"database":"demo","table":"test","type":"insert","ts":5,"data":{"id":3,"name":"c"}}"""))
      q.processAllAvailable()
      assert(store.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
        Map(2 -> "b2", 3 -> "c"))
      // each micro-batch appended deltas; compacting folds them without
      // changing the table
      assert(store.compact() >= 1)
      assert(store.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
        Map(2 -> "b2", 3 -> "c"))
    } finally q.stop()
  }

  test("restart from checkpoint resumes where the stream left off (C1 effectively-once)") {
    val in = tmpDir("cdc-in3")
    val ckpt = tmpDir("cdc-ckpt3")
    val store = new ParquetTableStore(spark, tmpDir("cdc-store3"), spec, 4)
    def start() = CdcPipeline.fileMaxwellStream(
      spark, in, registry, Map("public.test" -> store), ckpt,
      Trigger.ProcessingTime("1 second"))

    Files.write(Paths.get(in, "r0.json"), String.join("\n",
      """{"database":"demo","table":"test","type":"insert","ts":1,"data":{"id":1,"name":"a"}}""",
      """{"database":"demo","table":"test","type":"insert","ts":2,"data":{"id":2,"name":"b"}}""").getBytes,
      StandardOpenOption.CREATE)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // the stream is DOWN while new events land — a crash/redeploy window
    Files.write(Paths.get(in, "r1.json"), String.join("\n",
      """{"database":"demo","table":"test","type":"update","ts":3,"data":{"id":1,"name":"a2"},"old":{"name":"a"}}""",
      """{"database":"demo","table":"test","type":"delete","ts":4,"data":{"id":2,"name":"b"}}""").getBytes,
      StandardOpenOption.CREATE)

    // a fresh query on the same checkpoint must process ONLY r1 (the WAL
    // already recorded r0) and land on the exact replay result
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(store.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(1 -> "a2"))
  }

  test("intra-batch arrival order follows file MODIFICATION time, not lexicographic name") {
    val in = tmpDir("cdc-in4")
    val ckpt = tmpDir("cdc-ckpt4")
    val store = new ParquetTableStore(spark, tmpDir("cdc-store4"), spec, 4)

    // 'b0.json' is written FIRST (older mtime) but sorts lexicographically
    // AFTER 'a1.json': name order would replay the update before the insert
    // and resurrect the stale value; arrival (mtime) order must win.
    val now = System.currentTimeMillis()
    def write(name: String, mtime: Long, lines: String*): Unit = {
      val p = Paths.get(in, name)
      Files.write(p, String.join("\n", lines: _*).getBytes, StandardOpenOption.CREATE)
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
    }
    write("b0.json", now - 60000,
      """{"database":"demo","table":"test","type":"insert","ts":1,"data":{"id":1,"name":"stale"}}""")
    write("a1.json", now,
      """{"database":"demo","table":"test","type":"update","ts":2,"data":{"id":1,"name":"fresh"},"old":{"name":"stale"}}""")

    val q = CdcPipeline.fileMaxwellStream(
      spark, in, registry, Map("public.test" -> store), ckpt,
      Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      assert(store.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
        Map(1 -> "fresh"))
    } finally q.stop()
  }

  test("bulk replay is back-pressured: maxFilesPerTrigger bounds each micro-batch") {
    val in = tmpDir("cdc-in6")
    val ckpt = tmpDir("cdc-ckpt6")
    val store = new ParquetTableStore(spark, tmpDir("cdc-store6"), spec, 4)
    val now = System.currentTimeMillis()
    def write(name: String, mtime: Long, lines: String*): Unit = {
      val p = Paths.get(in, name)
      Files.write(p, String.join("\n", lines: _*).getBytes, StandardOpenOption.CREATE)
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
    }
    // a pre-existing backlog (the bulk-replay case): the cap must split it
    // across micro-batches instead of one giant batch 0, and the per-batch
    // sequencing must still compose to the same final state
    write("f0.json", now - 2000,
      """{"database":"demo","table":"test","type":"insert","ts":1,"data":{"id":1,"name":"v1"}}""")
    write("f1.json", now - 1000,
      """{"database":"demo","table":"test","type":"update","ts":2,"data":{"id":1,"name":"v2"},"old":{"name":"v1"}}""")
    write("f2.json", now,
      """{"database":"demo","table":"test","type":"update","ts":3,"data":{"id":1,"name":"v3"},"old":{"name":"v2"}}""",
      """{"database":"demo","table":"test","type":"insert","ts":4,"data":{"id":2,"name":"b"}}""")

    val q = CdcPipeline.fileMaxwellStream(
      spark, in, registry, Map("public.test" -> store), ckpt,
      Trigger.ProcessingTime("1 second"), maxFilesPerTrigger = 1)
    try {
      q.processAllAvailable()
      assert(store.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
        Map(1 -> "v3", 2 -> "b"))
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "three files under maxFilesPerTrigger=1 must arrive as three micro-batches")
    } finally q.stop()
  }

  test("a many-table registry routes the batch with ONE pass over the source") {
    import spark.implicits._
    val n = 20
    val specs = (0 until n).map { i =>
      s"public.t$i" -> TableSpec(s"public.t$i",
        StructType(Seq(StructField("id", IntegerType), StructField("name", StringType))),
        Seq("id"))
    }.toMap
    val wideRegistry = TableRegistry(
      (0 until n).map(i => s"demo.t$i" -> s"public.t$i").toMap, specs)
    val stores = specs.map { case (t, sp) =>
      t -> (new ParquetTableStore(spark, tmpDir("mt"), sp, 2): graft.sources.TableStore)
    }

    // An accumulator on the source proves the batch is computed exactly once
    // (the one cached batch every loader filters), not once per target table.
    val scans = spark.sparkContext.longAccumulator("sourceRows")
    val lines = (0 until 100).map { k =>
      s"""{"database":"demo","table":"t${k % n}","type":"insert","ts":1,"data":{"id":$k,"name":"v$k"}}"""
    }
    val counted = spark.createDataset(lines)
      .mapPartitions { it => it.map { s => scans.add(1); s } }
      .toDF("value")
      .withColumn("seq0", monotonically_increasing_id())
    val events = MaxwellParser.events(counted, wideRegistry, col("seq0"))

    CdcPipeline.applyBatch(events, wideRegistry, stores) // 20 tables, 10 loaders
    assert(scans.value == 100L,
      s"batch source computed ${scans.value} rows; 20 per-table filter passes would read 2000")
    (0 until n).foreach { i =>
      val st = stores(s"public.t$i").snapshot()
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      assert(st == (0 until 100).filter(_ % n == i).map(k => k -> s"v$k").toMap,
        s"table t$i diverged")
    }
  }

  test("same-key events split across files of ONE batch resolve in file order") {
    val in = tmpDir("cdc-in2")
    val ckpt = tmpDir("cdc-ckpt2")
    val store = new ParquetTableStore(spark, tmpDir("cdc-store2"), spec, 4)

    // Both files exist before the stream starts → a single micro-batch with
    // multiple splits; last-write-wins must follow file order, not the
    // partition layout (the round-3 seq-ordering finding).
    Files.write(Paths.get(in, "a0.json"), String.join("\n",
      """{"database":"demo","table":"test","type":"insert","ts":1,"data":{"id":1,"name":"first"}}""",
      """{"database":"demo","table":"test","type":"insert","ts":1,"data":{"id":2,"name":"x"}}""").getBytes,
      StandardOpenOption.CREATE)
    Files.write(Paths.get(in, "a1.json"), String.join("\n",
      """{"database":"demo","table":"test","type":"update","ts":2,"data":{"id":1,"name":"last"},"old":{"name":"first"}}""",
      """{"database":"demo","table":"test","type":"delete","ts":2,"data":{"id":2,"name":"x"}}""").getBytes,
      StandardOpenOption.CREATE)

    val q = CdcPipeline.fileMaxwellStream(
      spark, in, registry, Map("public.test" -> store), ckpt,
      Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      assert(store.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
        Map(1 -> "last"))
    } finally q.stop()
  }

  test("two files sharing an mtime tick replay in produced (name-sequence) order") {
    val in = tmpDir("cdc-in5")
    val ckpt = tmpDir("cdc-ckpt5")
    val store = new ParquetTableStore(spark, tmpDir("cdc-store5"), spec, 4)

    // Inside ONE batch, name order breaks an mtime tie. Pin both files to
    // the SAME mtime (a coarse-resolution filesystem tick) and require the
    // name sequence to decide — the stale value must not resurrect.
    val tick = (System.currentTimeMillis() / 1000) * 1000 - 30000
    def write(name: String, lines: String*): Unit = {
      val p = Paths.get(in, name)
      Files.write(p, String.join("\n", lines: _*).getBytes, StandardOpenOption.CREATE)
      Files.setLastModifiedTime(p, FileTime.fromMillis(tick))
    }
    write("seq-000001.json",
      """{"database":"demo","table":"test","type":"insert","ts":1,"data":{"id":1,"name":"stale"}}""")
    write("seq-000002.json",
      """{"database":"demo","table":"test","type":"update","ts":2,"data":{"id":1,"name":"fresh"},"old":{"name":"stale"}}""")

    val q = CdcPipeline.fileMaxwellStream(
      spark, in, registry, Map("public.test" -> store), ckpt,
      Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      assert(store.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
        Map(1 -> "fresh"))
    } finally q.stop()
  }

  test("replay sequencing is per-file distributed: no partition-less Window in the plan") {
    val in = tmpDir("cdc-in6")
    val now = System.currentTimeMillis()
    def write(name: String, mtime: Long, lines: String*): Unit = {
      val p = Paths.get(in, name)
      Files.write(p, String.join("\n", lines: _*).getBytes, StandardOpenOption.CREATE)
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
    }
    // three files; z is OLDEST by mtime so (mtime, name) order is z, a, b
    write("z0.json", now - 20000, "z1", "z2", "z3")
    write("a1.json", now - 10000, "a1", "a2")
    write("b2.json", now, "b1")

    val batch = spark.read.text(in)
    val ordered = CdcPipeline.sequenceReplayBatch(batch, batchId = 7L)

    // plan shape: every Window operator must be partitioned (the per-file
    // window) — a partition-less Window is the single-task funnel this
    // rewrite removed (checked on the optimized logical plan: AQE wraps the
    // physical plan and hides WindowExec from a pre-execution collect)
    val windows = ordered.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the per-file row_number window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "found a partition-less Window — global single-task sort is back")

    // semantics: _seq follows (mtime, name, position-in-file) and is dense
    // within the batch, offset by batchId * 2^40
    val got = ordered.orderBy("_seq").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val base = 7L * (1L << 40)
    assert(got.map(_._1).toSeq == Seq("z1", "z2", "z3", "a1", "a2", "b1"))
    assert(got.map(_._2).toSeq == (1L to 6L).map(base + _).toSeq)
  }

  test("Kafka-shaped maxwell batch applies with offset-as-seq (broker-free S1 body)") {
    import spark.implicits._
    val store = new ParquetTableStore(spark, tmpDir("kafka-m"), spec, 4)
    // Two Kafka partitions with OVERLAPPING offsets — legal because the
    // producer keys by PK, so a given key never straddles partitions.
    val batch = Seq(
      ("""{"database":"demo","table":"test","type":"insert","ts":1,"data":{"id":1,"name":"a"}}""", 0L, 0),
      ("""{"database":"demo","table":"test","type":"update","ts":2,"data":{"id":1,"name":"a2"},"old":{"name":"a"}}""", 1L, 0),
      ("""{"database":"demo","table":"test","type":"insert","ts":1,"data":{"id":2,"name":"b"}}""", 0L, 1),
      ("""{"database":"demo","table":"test","type":"delete","ts":3,"data":{"id":2,"name":"b"}}""", 1L, 1),
      ("""{"database":"other","table":"x","type":"insert","ts":9,"data":{"id":9}}""", 2L, 0)
    ).toDF("value", "offset", "partition")
    CdcPipeline.applyMaxwellKafkaBatch(batch, registry, Map("public.test" -> store))
    assert(store.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(1 -> "a2"))
  }

  test("Kafka-shaped debezium batch routes by topic (broker-free S1 body)") {
    import spark.implicits._
    val reg = TableRegistry(
      Map("public.test" -> "public.test"), Map("public.test" -> spec))
    val store = new ParquetTableStore(spark, tmpDir("kafka-d"), spec, 4)
    val batch = Seq(
      ("""{"payload":{"op":"c","ts_ms":1,"after":{"id":1,"name":"a"}}}""", 0L, "db.public.test"),
      ("""{"payload":{"op":"u","ts_ms":2,"after":{"id":1,"name":"a2"}}}""", 1L, "db.public.test"),
      ("""{"payload":{"op":"c","ts_ms":1,"after":{"id":2,"name":"b"}}}""", 0L, "db.public.test"),
      ("""{"payload":{"op":"d","ts_ms":3,"before":{"id":2,"name":"b"}}}""", 1L, "db.public.test"),
      // unmapped topic must be ignored, not crash the batch
      ("""{"payload":{"op":"c","ts_ms":1,"after":{"id":9}}}""", 0L, "db.public.other")
    ).toDF("value", "offset", "topic")
    CdcPipeline.applyDebeziumKafkaBatch(batch, reg, Map("public.test" -> store))
    assert(store.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(1 -> "a2"))
  }

  test("postBatch hook keeps an MvMaintainer summary live per micro-batch") {
    import graft.plans.{MaterializedView, MvMaintainer}
    import org.apache.spark.sql.functions.{count, lit, min, max, sum}
    MaterializedView.install(spark) // idempotent; this suite runs standalone too
    // a measure-carrying table: the summary tracks sum/min/max(v) by name
    val mSpec = TableSpec("public.mvt",
      StructType(Seq(StructField("id", IntegerType),
        StructField("name", StringType), StructField("v", LongType))),
      Seq("id"))
    val mReg = TableRegistry(
      Map("demo.mvt" -> "public.mvt"), Map("public.mvt" -> mSpec))
    val in = tmpDir("cdc-mv-in")
    val ckpt = tmpDir("cdc-mv-ckpt")
    val store = new ParquetTableStore(spark, tmpDir("cdc-mv-store"), mSpec, 4,
      retainedVersions = 3)
    store.init(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], mSpec.schema))
    val base = tmpDir("cdc-mv-base")
    store.snapshot().write.mode("overwrite").parquet(base)
    val mv = MaterializedView.build(spark, base, Seq("name"), Seq("v"),
      tmpDir("cdc-mv-sum"))
    val maintainer = MvMaintainer.create(spark, store, mv,
      tmpDir("cdc-mv-state") + "/state")

    def writeBatch(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(in, name), String.join("\n", lines: _*).getBytes,
        StandardOpenOption.CREATE)
    def rollup = store.snapshot().groupBy("name")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
    def values = rollup.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    def summaryScanned = rollup.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
    }.flatten.forall(_.contains("cdc-mv-sum"))

    writeBatch("m0.json", Seq(
      """{"database":"demo","table":"mvt","type":"insert","ts":1,"data":{"id":1,"name":"a","v":5}}""",
      """{"database":"demo","table":"mvt","type":"insert","ts":2,"data":{"id":2,"name":"a","v":9}}""",
      """{"database":"demo","table":"mvt","type":"insert","ts":3,"data":{"id":3,"name":"b","v":2}}"""))
    val q = CdcPipeline.fileMaxwellStream(
      spark, in, mReg, Map("public.mvt" -> store), ckpt,
      Trigger.ProcessingTime("1 second"),
      postBatch = Some(_ => { maintainer.sync(); () }))
    try {
      q.processAllAvailable()
      assert(maintainer.syncedVersion === store.currentVersion)
      assert(summaryScanned, "batch-1 rollup must serve from the summary")
      assert(values === Set(("a", 2L, 14L, 5L, 9L), ("b", 1L, 2L, 2L, 2L)))

      // update + delete + new group in the next batch; the delete removes
      // group a's max, forcing the repair path against the store snapshot.
      // TWO c rows keep the summary strictly smaller than the base — the
      // MvCost gate refuses a base-sized summary by design
      writeBatch("m1.json", Seq(
        """{"database":"demo","table":"mvt","type":"delete","ts":4,"data":{"id":2,"name":"a","v":9}}""",
        """{"database":"demo","table":"mvt","type":"update","ts":5,"data":{"id":1,"name":"a","v":7},"old":{"v":5}}""",
        """{"database":"demo","table":"mvt","type":"insert","ts":6,"data":{"id":4,"name":"c","v":1}}""",
        """{"database":"demo","table":"mvt","type":"insert","ts":7,"data":{"id":5,"name":"c","v":3}}"""))
      q.processAllAvailable()
      assert(maintainer.syncedVersion === store.currentVersion)
      assert(summaryScanned, "batch-2 rollup must serve from the refreshed summary")
      assert(values === Set(("a", 1L, 7L, 7L, 7L), ("c", 2L, 4L, 1L, 3L),
        ("b", 1L, 2L, 2L, 2L)))
    } finally {
      q.stop()
      MaterializedView.unregister(base)
    }
  }
}
