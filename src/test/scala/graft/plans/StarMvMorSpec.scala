package graft.plans

import graft.SparkTestBase
import graft.model.TableSpec
import graft.operators.CompactedBatch
import graft.sources.{MorTableStore, ParquetTableStore, VersionedTableStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Star-MV maintenance and SERVING over merge-on-read stores: the
  * maintainer is store-agnostic ([[graft.sources.VersionedTableStore]]),
  * and [[StoreResolvePlan]] matches the MOR snapshot's newest-wins
  * resolution plan as a table leaf — a rollup that joins live MOR
  * snapshots reroutes to the maintained summary (the resolution Window
  * disappears from the plan), with the same exact-dir-set staleness guard
  * as CoW serving and a shape guard that refuses filtered snapshots.
  */
class StarMvMorSpec extends SparkTestBase {
  import spark.implicits._

  MaterializedView.install(spark)

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten

  private def resolvesWindowed(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Window])

  private val factSchema = StructType(Seq(
    StructField("o_id", LongType), StructField("f_cust", LongType),
    StructField("v", LongType)))
  private val dimSchema = StructType(Seq(
    StructField("c_cust", LongType), StructField("seg", StringType)))

  /** A maintained MV over a MOR fact store, as the compaction test drives
    * it: the star [[Fixture]] or the single-table [[SingleFixture]].
    */
  private trait MorMv {
    type Row
    def factStore: MorTableStore
    def mergeFact(deletes: Seq[Long], upserts: Seq[(Long, Long, Long)]): Unit
    def sync(): Unit
    def rollup: DataFrame
    def values(df: DataFrame): Set[Row]
    def truth: Set[Row]
    def served(df: DataFrame): Boolean
    def close(): Unit
  }

  /** MOR fact; dim is MOR or CoW per `morDim`. */
  private final class Fixture(tag: String, seed: Int, morDim: Boolean,
      compactThreshold: Int = 8) extends MorMv {
    type Row = (String, Long, Long, Long, Long)
    val rnd = new scala.util.Random(seed)
    var facts: Seq[(Long, Long, Long)] = (1L to 120L)
      .map(i => (i, 1L + rnd.nextInt(20), rnd.nextInt(100).toLong))
    var dims: Seq[(Long, String)] = (1L to 20L).map(c => (c, s"s${c % 5}"))

    val factStore = new MorTableStore(spark, tmpDir(s"smvm_${tag}_fs"),
      TableSpec(s"public.smvm_${tag}_f", factSchema, Seq("o_id")), 4,
      compactThreshold = compactThreshold)
    val dimStore: VersionedTableStore =
      if (morDim) new MorTableStore(spark, tmpDir(s"smvm_${tag}_ds"),
        TableSpec(s"public.smvm_${tag}_d", dimSchema, Seq("c_cust")), 4,
        compactThreshold = compactThreshold)
      else new ParquetTableStore(spark, tmpDir(s"smvm_${tag}_ds"),
        TableSpec(s"public.smvm_${tag}_d", dimSchema, Seq("c_cust")), 4,
        retainedVersions = 3)
    factStore.init(facts.toDF("o_id", "f_cust", "v"))
    dimStore match {
      case m: MorTableStore => m.init(dims.toDF("c_cust", "seg"))
      case p: ParquetTableStore => p.init(dims.toDF("c_cust", "seg"))
    }

    val factKey = tmpDir(s"smvm_${tag}_fkey")
    val dimKey = tmpDir(s"smvm_${tag}_dkey")
    factStore.snapshot().write.mode("overwrite").parquet(factKey)
    dimStore.snapshot().write.mode("overwrite").parquet(dimKey)

    import StarMv.{QCol, StarMvDef}
    val mvDef = StarMv.build(spark, StarMvDef(
      tables = Seq(factKey, dimKey),
      joins = Seq((QCol(factKey, "f_cust"), QCol(dimKey, "c_cust"))),
      groupCols = Seq(QCol(dimKey, "seg")),
      measureCols = Seq(QCol(factKey, "v")),
      summaryPath = tmpDir(s"smvm_${tag}_sum")))
    val statePath = tmpDir(s"smvm_${tag}_state") + "/state"
    val maintainer = StarMvMaintainer.create(spark,
      Map(factKey -> factStore, dimKey -> dimStore), mvDef, statePath)

    def truth: Set[(String, Long, Long, Long, Long)] = {
      val segOf = dims.toMap
      val joined = facts.flatMap { case (_, c, v) =>
        segOf.get(c).map(s => (s, v)) }
      joined.groupBy(_._1).map { case (s, rs) =>
        (s, rs.size.toLong, rs.map(_._2).sum, rs.map(_._2).min,
          rs.map(_._2).max)
      }.toSet
    }

    def rollup: DataFrame = factStore.snapshot()
      .join(dimStore.snapshot(), col("f_cust") === col("c_cust"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))

    def values(df: DataFrame): Set[(String, Long, Long, Long, Long)] =
      df.as[(String, Long, Long, Long, Long)].collect().toSet

    def mergeFact(deletes: Seq[Long], upserts: Seq[(Long, Long, Long)]): Unit = {
      factStore.merge(CompactedBatch(deletes.toDF("o_id"),
        upserts.toDF("o_id", "f_cust", "v")))
      facts = facts.filterNot(r => deletes.contains(r._1))
        .filterNot(r => upserts.exists(_._1 == r._1)) ++ upserts
    }
    def mergeDim(deletes: Seq[Long], upserts: Seq[(Long, String)]): Unit = {
      dimStore.merge(CompactedBatch(deletes.toDF("c_cust"),
        upserts.toDF("c_cust", "seg")))
      dims = dims.filterNot(r => deletes.contains(r._1))
        .filterNot(r => upserts.exists(_._1 == r._1)) ++ upserts
    }

    def served(df: DataFrame): Boolean = {
      val paths = scanPaths(df)
      paths.nonEmpty && paths.forall(_.contains(s"smvm_${tag}_sum")) &&
        !resolvesWindowed(df)
    }

    def sync(): Unit = { maintainer.sync(); () }

    def close(): Unit = StarMv.unregister(maintainer.definition.summaryPath)
  }

  /** MOR fact rolled up by `f_cust` through a single-table MV and its
    * [[MvMaintainer]].
    */
  private final class SingleFixture(tag: String, seed: Int,
      compactThreshold: Int) extends MorMv {
    type Row = (Long, Long, Long, Long, Long)
    val rnd = new scala.util.Random(seed)
    var facts: Seq[(Long, Long, Long)] = (1L to 120L)
      .map(i => (i, 1L + rnd.nextInt(20), rnd.nextInt(100).toLong))
    val factStore = new MorTableStore(spark, tmpDir(s"smvm_${tag}_fs"),
      TableSpec(s"public.smvm_${tag}_f", factSchema, Seq("o_id")), 4,
      compactThreshold = compactThreshold)
    factStore.init(facts.toDF("o_id", "f_cust", "v"))
    val base = tmpDir(s"smvm_${tag}_base")
    factStore.snapshot().write.mode("overwrite").parquet(base)
    val mvDef = MaterializedView.build(spark, base, Seq("f_cust"), Seq("v"),
      tmpDir(s"smvm_${tag}_sum"), base = Some(factStore.snapshot()))
    val maintainer = MvMaintainer.create(spark, factStore, mvDef,
      tmpDir(s"smvm_${tag}_state") + "/state")

    def truth: Set[Row] = facts.groupBy(_._2).map { case (c, rs) =>
      (c, rs.size.toLong, rs.map(_._3).sum, rs.map(_._3).min,
        rs.map(_._3).max)
    }.toSet

    def rollup: DataFrame = factStore.snapshot().groupBy("f_cust")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))

    def values(df: DataFrame): Set[Row] =
      df.as[(Long, Long, Long, Long, Long)].collect().toSet

    def mergeFact(deletes: Seq[Long], upserts: Seq[(Long, Long, Long)]): Unit = {
      factStore.merge(CompactedBatch(deletes.toDF("o_id"),
        upserts.toDF("o_id", "f_cust", "v")))
      facts = facts.filterNot(r => deletes.contains(r._1))
        .filterNot(r => upserts.exists(_._1 == r._1)) ++ upserts
    }

    def sync(): Unit = { maintainer.sync(); () }

    def served(df: DataFrame): Boolean = {
      val paths = scanPaths(df)
      paths.nonEmpty && paths.forall(_.contains(s"smvm_${tag}_sum")) &&
        !resolvesWindowed(df)
    }

    def close(): Unit = MaterializedView.unregister(base)
  }

  test("MOR fact + CoW dim: live-snapshot rollup serves from the summary") {
    val f = new Fixture("mix", 11, morDim = false)
    try {
      // fresh: every bucket is a single compacted base — the flat branch
      assert(f.served(f.rollup), "fresh MOR rollup must reroute (flat shape)")
      assert(f.values(f.rollup) === f.truth)

      // overlapping deltas (fact rows referencing a dim key inserted in
      // the same round) + extreme-removing deletes: post-merge the fact
      // snapshot is the mixed Union(flat, windowed) shape
      val maxRow = f.facts.maxBy(_._3)
      f.mergeFact(deletes = Seq(maxRow._1),
        upserts = Seq((200L, 21L, 55L), (201L, 21L, 7L), (202L, 3L, 40L)))
      f.mergeDim(deletes = Seq(7L), upserts = Seq((21L, "s_new"), (3L, "s4")))
      assert(!f.served(f.rollup), "unsynced merges must force the live join")
      assert(f.values(f.rollup) === f.truth)

      f.maintainer.sync()
      assert(f.served(f.rollup),
        "post-sync rollup over the mixed MOR shape must serve: " +
          f.rollup.queryExecution.optimizedPlan.toString)
      assert(f.values(f.rollup) === f.truth)
    } finally f.close()
  }

  test("both tables MOR: serve, sync, serve again") {
    val f = new Fixture("mm", 23, morDim = true)
    try {
      assert(f.served(f.rollup))
      assert(f.values(f.rollup) === f.truth)
      f.mergeFact(deletes = f.facts.take(3).map(_._1),
        upserts = Seq((210L, 10L, 99L)))
      f.mergeDim(deletes = Nil, upserts = Seq((5L, "s_moved")))
      f.maintainer.sync()
      assert(f.served(f.rollup))
      assert(f.values(f.rollup) === f.truth)
    } finally f.close()
  }

  test("shape guard: a FILTERED MOR snapshot never serves from the summary") {
    val f = new Fixture("filt", 37, morDim = false)
    try {
      f.mergeFact(deletes = Seq(2L), upserts = Seq((200L, 4L, 60L)))
      f.maintainer.sync()
      assert(f.served(f.rollup))
      // a measure filter pushes into both union branches — extra conjunct
      val q1 = f.factStore.snapshot().filter(col("v") > 50L)
        .join(f.dimStore.snapshot(), col("f_cust") === col("c_cust"))
        .groupBy("seg").agg(sum(col("v")).as("s"))
      assert(!f.served(q1), "a filtered snapshot must not match the leaf")
      val t1 = f.facts.filter(_._3 > 50).flatMap { case (_, c, v) =>
        f.dims.toMap.get(c).map(s => (s, v)) }
        .groupBy(_._1).map { case (s, rs) => (s, rs.map(_._2).sum) }.toSet
      assert(q1.as[(String, Long)].collect().toSet === t1)
      // a PK filter is pushable below the resolution Window — the shape
      // guard must still refuse it
      val q2 = f.factStore.snapshot().filter(col("o_id") < 100L)
        .join(f.dimStore.snapshot(), col("f_cust") === col("c_cust"))
        .groupBy("seg").agg(count(lit(1)).as("n"))
      assert(!f.served(q2), "a pk-filtered snapshot must not match the leaf")
    } finally f.close()
  }

  test("stacked guard: a raw _op='u' scan of stacked dirs never matches the leaf") {
    val f = new Fixture("rawscan", 53, morDim = false)
    try {
      // leave the fact with STACKED buckets: a merge after init puts a
      // delta dir on top of each touched bucket's base dir
      f.mergeFact(deletes = Seq(5L),
        upserts = Seq((1L, 9L, 77L), (400L, 2L, 13L))) // 1L = overwrite
      f.maintainer.sync()
      assert(f.served(f.rollup))
      val v = f.factStore.currentVersion
      val dirs = f.factStore.dataDirsAt(v)
      val stacked = f.factStore.stackedDirsAt(v)
      assert(stacked.nonEmpty, "fixture must produce stacked buckets")
      assert(stacked.toSet.subsetOf(dirs.toSet))
      // the adversarial plan: scan the FULL registered dir set, filter
      // _op='u', project the data columns — without the resolution
      // Window. Root-set identity matches the registration exactly, so
      // only the stacked-dir placement guard can refuse it.
      val raw = spark.read.parquet(dirs: _*).filter(col("_op") === "u")
        .select("o_id", "f_cust", "v")
      // the raw scan still carries the superseded version of key 1L
      assert(raw.count() > f.factStore.snapshot().count(),
        "raw scan must hold duplicate key versions for this test to bite")
      val q = raw.join(f.dimStore.snapshot(), col("f_cust") === col("c_cust"))
        .groupBy("seg").agg(sum(col("v")).as("s"))
      assert(!f.served(q),
        "an unresolved stacked-dir scan must NEVER serve from the summary: " +
          q.queryExecution.optimizedPlan.toString)
    } finally f.close()
  }

  test("compaction: serving pauses on the folded dir set, a no-op sync re-arms") {
    // the star MV and the single-table MV (the one-table star) share one
    // maintainer protocol: both must re-arm serving on a no-op sync
    val inputs: Seq[() => MorMv] = Seq(
      () => new Fixture("cpt", 41, morDim = false, compactThreshold = 2),
      () => new SingleFixture("cpts", 41, compactThreshold = 2))
    inputs.foreach { input =>
      val f = input()
      try {
        f.mergeFact(deletes = Seq(1L), upserts = Seq((300L, 2L, 11L)))
        f.sync()
        assert(f.served(f.rollup))
        // fold every threshold-deep stack: dirs change, the seq does not
        assert(f.factStore.compact() > 0, "compaction must fold some buckets")
        assert(!f.served(f.rollup),
          "post-compaction dir set must miss the registered set")
        assert(f.values(f.rollup) === f.truth)
        f.sync() // version-level no-op, re-arms the dir sets
        assert(f.served(f.rollup), "no-op sync must re-arm serving")
        assert(f.values(f.rollup) === f.truth)
      } finally f.close()
    }
  }

  test("single-table MV over a MOR store: MvMaintainer keeps it live and served") {
    import graft.model.TableSpec
    import graft.operators.CompactedBatch
    val store = new MorTableStore(spark, tmpDir("smvm_st_fs"),
      TableSpec("public.smvm_st_f", factSchema, Seq("o_id")), 4)
    store.init((1L to 100L).map(i => (i, 1L + i % 8, i % 50))
      .toDF("o_id", "f_cust", "v"))
    val base = tmpDir("smvm_st_base")
    store.snapshot().write.mode("overwrite").parquet(base)
    val mv = MaterializedView.build(spark, base, Seq("f_cust"), Seq("v"),
      tmpDir("smvm_st_sum"), base = Some(store.snapshot()))
    val m = MvMaintainer.create(spark, store, mv, tmpDir("smvm_st_state") + "/s")
    try {
      def rollup = store.snapshot().groupBy("f_cust")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      def servedHere = {
        val paths = scanPaths(rollup)
        paths.nonEmpty && paths.forall(_.contains("smvm_st_sum")) &&
          !resolvesWindowed(rollup)
      }
      assert(servedHere, "fresh MOR single-table rollup must serve")
      store.merge(CompactedBatch(Seq(1L, 2L).toDF("o_id"),
        Seq((200L, 3L, 49L)).toDF("o_id", "f_cust", "v")))
      assert(!servedHere, "unsynced merge must fall back")
      m.sync()
      assert(servedHere, "post-sync rollup must serve from the summary")
      val truth = ((3L to 100L).map(i => (i, 1L + i % 8, i % 50)) :+
        ((200L, 3L, 49L))).groupBy(_._2)
        .map { case (c, rs) => (c, rs.map(_._3).sum, rs.size.toLong) }.toSet
      assert(rollup.as[(Long, Long, Long)].collect().toSet === truth)
    } finally MaterializedView.unregister(base)
  }

  test("ROLLUP over a maintained MOR single-table MV serves via the Expand path") {
    import graft.model.TableSpec
    import graft.operators.CompactedBatch
    val store = new MorTableStore(spark, tmpDir("smvm_ru_fs"),
      TableSpec("public.smvm_ru_f", factSchema, Seq("o_id")), 4)
    store.init((1L to 80L).map(i => (i, 1L + i % 6, i % 30))
      .toDF("o_id", "f_cust", "v"))
    val base = tmpDir("smvm_ru_base")
    store.snapshot().write.mode("overwrite").parquet(base)
    val mv = MaterializedView.build(spark, base, Seq("f_cust"), Seq("v"),
      tmpDir("smvm_ru_sum"), base = Some(store.snapshot()))
    val m = MvMaintainer.create(spark, store, mv, tmpDir("smvm_ru_state") + "/s")
    try {
      store.merge(CompactedBatch(Seq(1L).toDF("o_id"),
        Seq((200L, 3L, 29L)).toDF("o_id", "f_cust", "v")))
      m.sync()
      // the analyzer plants an Expand between the Aggregate and the MOR
      // resolve subtree — strip must still recognize the store leaf
      val q = store.snapshot().rollup("f_cust")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      val paths = scanPaths(q)
      assert(paths.nonEmpty && paths.forall(_.contains("smvm_ru_sum")),
        s"MOR rollup must serve through the Expand path: $paths")
      assert(!resolvesWindowed(q))
      val model = ((2L to 80L).map(i => (1L + i % 6, i % 30)) :+ ((3L, 29L)))
      val perGroup = model.groupBy(_._1)
        .map { case (c, rs) => (Option(c), rs.map(_._2).sum, rs.size.toLong) }
      val total = (Option.empty[Long], model.map(_._2).sum, model.size.toLong)
      assert(q.collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getLong(1), r.getLong(2))).toSet === (perGroup.toSet + total))
    } finally MaterializedView.unregister(base)
  }

  test("MOR analyze persists version-stamped stats; maintainers publish them") {
    import graft.model.TableSpec
    import graft.operators.CompactedBatch
    val store = new MorTableStore(spark, tmpDir("smvm_an_fs"),
      TableSpec("public.smvm_an_f", factSchema, Seq("o_id")), 4)
    store.init((1L to 40L).map(i => (i, i % 4, i % 7)).toDF("o_id", "f_cust", "v"))
    val t0 = store.analyze()
    assert(t0.nRows == 40L && t0.staleBy == 0L)
    assert(t0.columns.find(_.name == "o_id").get.nNonNull == 40L)
    store.merge(CompactedBatch(Seq(1L).toDF("o_id"),
      Seq.empty[(Long, Long, Long)].toDF("o_id", "f_cust", "v")))
    assert(store.stats().get.staleBy == 1L, "staleness tracks merges")
    val t1 = store.analyze()
    assert(t1.nRows == 39L && store.stats().get.version == t1.version)
  }

  test("restart: open() over MOR stores resumes and catches up") {
    val f = new Fixture("rst", 59, morDim = true)
    try {
      f.mergeFact(deletes = Seq(1L), upserts = Seq((300L, 2L, 11L)))
      f.maintainer.sync()
      f.mergeDim(deletes = Nil, upserts = Seq((2L, "s_r")))
      val m2 = StarMvMaintainer.open(spark,
        Map(f.factKey -> f.factStore, f.dimKey -> f.dimStore), f.statePath)
      assert(m2.syncedVersions === f.maintainer.syncedVersions)
      m2.sync()
      assert(f.values(f.rollup) === f.truth)
      assert(f.served(f.rollup))
    } finally f.close()
  }
}
