package graft.plans

import graft.SparkTestBase
import graft.model.TableSpec
import graft.operators.CompactedBatch
import graft.sources.ParquetTableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Durable streaming MV maintenance ([[MvMaintainer]]): snapshot serving
  * through the exact dir-set registry (fresh snapshot rewritten to the
  * summary, stale/pre-sync snapshot falls back to the base), restart
  * resume from the state file, the crash window between refresh and state
  * commit (re-apply must converge, not double-subtract), and summary
  * generation gc.
  */
class MvMaintainerSpec extends SparkTestBase {
  import spark.implicits._

  MaterializedView.install(spark)

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten

  private val tableSchema = StructType(Seq(
    StructField("id", LongType), StructField("g", StringType),
    StructField("m", LongType)))

  /** store + truth + built MV + maintainer, one per test */
  private final class Fixture(tag: String, seed: Int) {
    val rnd = new scala.util.Random(seed)
    var rows: Seq[(Long, String, Long)] = (1L to 200L)
      .map(i => (i, s"g${rnd.nextInt(6)}", rnd.nextInt(100).toLong))
    val store = new ParquetTableStore(spark,
      tmpDir(s"mvm_${tag}_store"), TableSpec(s"public.mvm_$tag", tableSchema,
        Seq("id")), 4, retainedVersions = 3)
    store.init(rows.toDF("id", "g", "m"))
    val base = tmpDir(s"mvm_${tag}_base")
    store.snapshot().write.mode("overwrite").parquet(base)
    val statePath = tmpDir(s"mvm_${tag}_state") + "/mv_state"
    val mvDef = MaterializedView.build(spark, base, Seq("g"), Seq("m"),
      tmpDir(s"mvm_${tag}_sum"))
    val maintainer = MvMaintainer.create(spark, store, mvDef, statePath)

    def mergeRandom(): CompactedBatch = {
      val delIds = rnd.shuffle(rows.map(_._1).toList).take(10)
      val upserts = rnd.shuffle((1L to 210L).toList).take(15)
        .filterNot(delIds.contains)
        .map(i => (i, s"g${rnd.nextInt(6)}", rnd.nextInt(100).toLong))
      val batch = CompactedBatch(delIds.toDF("id"),
        upserts.toDF("id", "g", "m"))
      store.merge(batch)
      rows = rows.filterNot(r => delIds.contains(r._1))
        .filterNot(r => upserts.exists(_._1 == r._1)) ++ upserts
      batch
    }

    def truth: Set[(String, Long, Long, Long, Long)] =
      rows.groupBy(_._2).map { case (g, rs) =>
        (g, rs.size.toLong, rs.map(_._3).sum, rs.map(_._3).min, rs.map(_._3).max)
      }.toSet

    def rollup: DataFrame = store.snapshot().groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("m")).as("s"),
        min(col("m")).as("mn"), max(col("m")).as("mx"))

    def values(df: DataFrame): Set[(String, Long, Long, Long, Long)] =
      df.as[(String, Long, Long, Long, Long)].collect().toSet

    def close(): Unit = MaterializedView.unregister(base)
  }

  test("live-snapshot rollups serve from the summary; stale serving is refused") {
    val f = new Fixture("serve", 11)
    try {
      // fresh: the snapshot's dir set matches the registered set
      assert(scanPaths(f.rollup).forall(_.contains("mvm_serve_sum")),
        "fresh snapshot rollup must reroute to the summary")
      assert(f.values(f.rollup) === f.truth)

      // merge WITHOUT syncing: the new snapshot's dir set no longer
      // matches — the query must fall back to the store scan and still be
      // right (staleness guard is structural, not advisory)
      f.mergeRandom()
      val stale = f.rollup
      assert(scanPaths(stale).exists(_.contains("mvm_serve_store")),
        "unsynced snapshot must scan the store, not the stale summary")
      assert(f.values(stale) === f.truth)

      // sync: serving resumes from the refreshed summary
      f.maintainer.sync()
      assert(scanPaths(f.rollup).forall(_.contains("mvm_serve_sum")))
      assert(f.values(f.rollup) === f.truth)

      // time travel to the pre-merge version must NOT be served the new
      // summary (exact-set match misses the old dir set)
      val v1 = f.store.history().head
      val old = f.store.snapshotAt(v1).groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("m")).as("s"), min(col("m")).as("mn"), max(col("m")).as("mx"))
      assert(scanPaths(old).exists(_.contains("mvm_serve_store")),
        "time-travel rollup must not be rewritten to the current summary")
    } finally f.close()
  }

  test("restart: open() resumes from the state file and catches up") {
    val f = new Fixture("restart", 23)
    try {
      f.mergeRandom()
      f.maintainer.sync()
      // merges land while the maintainer is down
      f.mergeRandom()
      f.mergeRandom()
      // "restart": a fresh maintainer from the state file
      val m2 = MvMaintainer.open(spark, f.store, f.statePath)
      assert(m2.syncedVersion === f.maintainer.syncedVersion)
      m2.sync()
      assert(m2.syncedVersion === f.store.currentVersion)
      assert(scanPaths(f.rollup).forall(_.contains("mvm_restart_sum")))
      assert(f.values(f.rollup) === f.truth)
    } finally f.close()
  }

  test("open() resumes a state file in the original single-table format") {
    val f = new Fixture("legacy", 59)
    try {
      // the format every single-table maintainer has written: one
      // key<TAB>value line per field, URL-encoded, the synced version last
      val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
      val v = f.store.currentVersion
      val state = new org.apache.hadoop.fs.Path(
        tmpDir("mvm_legacy_old") + "/mv_state")
      val fs = state.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(state)
      try out.write((s"base\t${enc(f.base)}\n" + "group\tg\n" +
        "measure\tm\n" + s"summary\t${enc(f.mvDef.summaryPath)}\n" +
        "derived\t\n" + s"storeVersion\t$v").getBytes("UTF-8"))
      finally out.close()
      MaterializedView.unregister(f.base) // a fresh process registers nothing
      val m2 = MvMaintainer.open(spark, f.store, state.toString)
      assert(m2.syncedVersion === v)
      assert(m2.definition === f.mvDef)
      assert(MaterializedView.lookup(MaterializedView.normalize(f.base))
        .contains(f.mvDef))
      f.mergeRandom()
      m2.sync()
      assert(scanPaths(f.rollup).forall(_.contains("mvm_legacy_sum")),
        "the resumed maintainer must serve the rollup from its summary")
      assert(f.values(f.rollup) === f.truth)
    } finally f.close()
  }

  test("crash between refresh and state commit: re-apply converges") {
    val f = new Fixture("crash", 37)
    try {
      f.mergeRandom()
      // simulate sync() dying AFTER the refresh wrote the next summary
      // version but BEFORE the state file moved: run the refresh exactly
      // as sync would, then reopen from the UNMOVED state file
      val v = f.store.currentVersion
      MaterializedView.refreshFromFeed(spark, f.base,
        f.store.changeFeedBetween(f.maintainer.syncedVersion, v),
        base = Some(f.store.snapshotAt(v)))
      val m2 = MvMaintainer.open(spark, f.store, f.statePath)
      assert(m2.syncedVersion < v, "state must still point at the pre-crash sync")
      m2.sync() // re-applies the same feed over the SAME old summary
      assert(f.values(f.rollup) === f.truth,
        "re-applied feed must overwrite the orphan summary, not double-apply")
      assert(scanPaths(f.rollup).forall(_.contains("mvm_crash_sum")))
    } finally f.close()
  }

  test("syncToBoundary: the summary stops at the catalog's committed version") {
    val f = new Fixture("bound", 47)
    try {
      val cat = new graft.sources.SnapshotCatalog(spark,
        tmpDir("mvm_bound_cat"), Map(f.store.spec.name -> f.store))
      f.mergeRandom()
      cat.commit() // the boundary: one merge in
      val truthAtBoundary = f.truth
      f.mergeRandom() // a later, uncommitted merge
      f.maintainer.syncToBoundary(cat)
      def boundaryRollup = cat.snapshot(f.store.spec.name).groupBy("g")
        .agg(count(lit(1)).as("n"), sum(col("m")).as("s"),
          min(col("m")).as("mn"), max(col("m")).as("mx"))
      assert(f.values(boundaryRollup) === truthAtBoundary)
      assert(scanPaths(boundaryRollup).forall(_.contains("mvm_bound_sum")),
        "the boundary rollup must serve from the summary")
      // the live read past the boundary falls back but stays correct
      assert(scanPaths(f.rollup).exists(!_.contains("mvm_bound_sum")))
      assert(f.values(f.rollup) === f.truth)
      // commit + re-sync catches up
      cat.commit()
      f.maintainer.syncToBoundary(cat)
      assert(f.values(f.rollup) === f.truth)
      assert(scanPaths(f.rollup).forall(_.contains("mvm_bound_sum")))
    } finally f.close()
  }

  test("sync refuses when another actor moved the registration") {
    // the signed feed algebra is not idempotent: refreshing from a summary
    // this maintainer did NOT commit would re-apply feeds on top of it —
    // silent corruption. The maintainer must refuse, not proceed.
    val f = new Fixture("owner", 43)
    try {
      f.mergeRandom()
      MaterializedView.register(
        f.maintainer.definition.copy(summaryPath = tmpDir("mvm_owner_rogue")))
      val e = intercept[IllegalArgumentException] { f.maintainer.sync() }
      assert(e.getMessage.contains("not the owner"))
      // restoring the committed registration un-wedges the maintainer
      MaterializedView.register(f.maintainer.definition)
      f.maintainer.sync()
      assert(f.values(f.rollup) === f.truth)
    } finally f.close()
  }

  test("summary generations gc to keepSummaries; older dirs are gone") {
    val f = new Fixture("gc", 41)
    try {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      (1 to 4).foreach { _ => f.mergeRandom(); f.maintainer.sync() }
      val cur = f.maintainer.definition.summaryPath
      assert(cur.endsWith("_v4"))
      val stem = cur.stripSuffix("_v4")
      assert(fs.exists(new org.apache.hadoop.fs.Path(cur)))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"${stem}_v3")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${stem}_v2")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(stem)),
        "the original build summary (generation 0) must be gc'd")
    } finally f.close()
  }

  test("olderSummaries arithmetic covers the unversioned build path") {
    assert(MvMaintainer.olderSummaries("/x/sum", 2) === Nil)
    assert(MvMaintainer.olderSummaries("/x/sum_v1", 2) === Nil)
    assert(MvMaintainer.olderSummaries("/x/sum_v2", 2) === Seq("/x/sum"))
    assert(MvMaintainer.olderSummaries("/x/sum_v4", 2) ===
      Seq("/x/sum", "/x/sum_v1", "/x/sum_v2"))
  }

  test("unregister(base) also disarms snapshot serving") {
    val f = new Fixture("unreg", 53)
    try {
      assert(scanPaths(f.rollup).forall(_.contains("mvm_unreg_sum")))
      MaterializedView.unregister(f.base)
      assert(scanPaths(f.rollup).exists(_.contains("mvm_unreg_store")))
      assert(f.values(f.rollup) === f.truth)
    } finally f.close()
  }
}
