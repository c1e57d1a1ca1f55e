package graft.plans

import graft.SparkTestBase
import graft.model.TableSpec
import graft.operators.CompactedBatch
import graft.sources.ParquetTableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC-maintained STAR summaries ([[StarMvMaintainer]]): the fact and the
  * dimension each sync through store merges; one maintainer absorbs both
  * change feeds per round with version-pinned sequencing. The core test
  * plants overlapping deltas (new fact rows referencing a dim key
  * inserted IN THE SAME round) — the shape a naive "apply each table's
  * delta against current disk state" sequencing double-counts — plus
  * group moves (dim updates), extreme-removing deletes (repair), live
  * snapshot serving through the per-table dir-set match, restart resume,
  * and the refresh-vs-state crash window.
  */
class StarMvMaintainerSpec extends SparkTestBase {
  import spark.implicits._

  MaterializedView.install(spark)

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten

  private val factSchema = StructType(Seq(
    StructField("o_id", LongType), StructField("f_cust", LongType),
    StructField("v", LongType)))
  private val dimSchema = StructType(Seq(
    StructField("c_cust", LongType), StructField("seg", StringType)))

  private final class Fixture(tag: String, seed: Int,
      lossless: Boolean = false) {
    val rnd = new scala.util.Random(seed)
    var facts: Seq[(Long, Long, Long)] = (1L to 120L)
      .map(i => (i, 1L + rnd.nextInt(20), rnd.nextInt(100).toLong))
    var dims: Seq[(Long, String)] = (1L to 20L)
      .map(c => (c, s"s${c % 5}"))

    val factStore = new ParquetTableStore(spark, tmpDir(s"smv_${tag}_fs"),
      TableSpec(s"public.smv_${tag}_f", factSchema, Seq("o_id")), 4,
      retainedVersions = 3)
    val dimStore = new ParquetTableStore(spark, tmpDir(s"smv_${tag}_ds"),
      TableSpec(s"public.smv_${tag}_d", dimSchema, Seq("c_cust")), 4,
      retainedVersions = 3)
    factStore.init(facts.toDF("o_id", "f_cust", "v"))
    dimStore.init(dims.toDF("c_cust", "seg"))

    // table KEYS are parquet dumps of the initial snapshots (StarMv.build
    // reads them; refreshes never do — the maintainer pins overrides)
    val factKey = tmpDir(s"smv_${tag}_fkey")
    val dimKey = tmpDir(s"smv_${tag}_dkey")
    factStore.snapshot().write.mode("overwrite").parquet(factKey)
    dimStore.snapshot().write.mode("overwrite").parquet(dimKey)

    import StarMv.{QCol, StarMvDef}
    val mvDef = StarMv.build(spark, StarMvDef(
      tables = Seq(factKey, dimKey),
      joins = Seq((QCol(factKey, "f_cust"), QCol(dimKey, "c_cust"))),
      groupCols = Seq(QCol(dimKey, "seg")),
      measureCols = Seq(QCol(factKey, "v")),
      summaryPath = tmpDir(s"smv_${tag}_sum"),
      losslessTables = if (lossless) Seq(dimKey) else Nil))
    val statePath = tmpDir(s"smv_${tag}_state") + "/state"
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

    def close(): Unit = StarMv.unregister(maintainer.definition.summaryPath)
  }

  private def exists(path: String): Boolean =
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path))

  test("overlapping fact+dim deltas sequence correctly (no double count)") {
    val f = new Fixture("seq", 17)
    try {
      // fresh: live-join rollup serves from the summary
      assert(scanPaths(f.rollup).forall(_.contains("smv_seq_sum")),
        "fresh star rollup must reroute to the summary")
      assert(f.values(f.rollup) === f.truth)

      // ONE round where the deltas overlap: dim inserts cust 21 (new
      // segment) while fact inserts rows REFERENCING cust 21; dim also
      // moves cust 3 to another segment and deletes cust 7 (whose fact
      // rows survive but leave the join); fact deletes its max-v rows
      // (forces repair) and updates some values
      val maxRow = f.facts.maxBy(_._3)
      f.mergeFact(
        deletes = Seq(maxRow._1),
        upserts = Seq((200L, 21L, 55L), (201L, 21L, 7L), (202L, 3L, 40L)))
      f.mergeDim(
        deletes = Seq(7L),
        upserts = Seq((21L, "s_new"), (3L, "s4")))
      val built = f.maintainer.definition.summaryPath
      f.maintainer.sync()
      assert(f.values(f.rollup) === f.truth,
        "post-sync star summary must equal the recomputed join truth")
      // both tables changed, yet the sync wrote ONE summary generation,
      // and the previous committed one survives the gc
      assert(f.maintainer.definition.summaryPath ===
        StarMv.nextSummaryPath(built))
      assert(exists(built), "the previous committed generation must survive")
      assert(scanPaths(f.rollup).forall(_.contains("smv_seq_sum")),
        "post-sync rollup must serve from the refreshed summary")

      // a second round, fact-only
      f.mergeFact(deletes = f.facts.take(5).map(_._1),
        upserts = Seq((210L, 10L, 99L)))
      f.maintainer.sync()
      assert(f.values(f.rollup) === f.truth)

      // the extreme-repair trap: segment s_lonely holds no facts, so the
      // old summary has no row for it; one sync inserts two facts into it
      // and moves one of their customers out again — the fact feed's
      // insert (Δfact⋈dim_old) is deleted by the dim feed's
      // (fact_new⋈Δdim) in the same refresh, taking the group's min along
      f.mergeDim(deletes = Nil, upserts = Seq((31L, "s_lonely"), (32L, "s_lonely")))
      f.maintainer.sync()
      f.mergeFact(deletes = Nil, upserts = Seq((220L, 31L, 5L), (221L, 32L, 9L)))
      f.mergeDim(deletes = Nil, upserts = Seq((31L, "s_x")))
      f.maintainer.sync()
      assert(f.values(f.rollup) === f.truth)
      assert(f.values(f.rollup).filter(_._1 == "s_lonely") ===
        Set(("s_lonely", 1L, 9L, 9L, 9L)))
      assert(scanPaths(f.rollup).forall(_.contains("smv_seq_sum")))
    } finally f.close()
  }

  test("lossless star: a two-table sync is guarded against the post-sync tables") {
    val f = new Fixture("lossless", 23, lossless = true)
    try {
      // the new fact row's customer arrives in the SAME sync: it has no
      // match in the dim's OLD version, but the summary serves the NEW one
      f.mergeFact(deletes = Nil, upserts = Seq((300L, 26L, 13L)))
      f.mergeDim(deletes = Nil, upserts = Seq((26L, "s_new")))
      f.maintainer.sync()
      assert(f.values(f.rollup) === f.truth)
      assert(scanPaths(f.rollup).forall(_.contains("smv_lossless_sum")))

      // a fact row whose customer is missing AFTER the sync is refused,
      // and the committed registration stays in place
      val committed = f.maintainer.definition
      f.mergeFact(deletes = Nil, upserts = Seq((301L, 99L, 4L)))
      val e = intercept[IllegalArgumentException] { f.maintainer.sync() }
      assert(e.getMessage.contains("no match in lossless table"))
      assert(f.maintainer.definition === committed)
      assert(StarMv.registered.contains(committed))
      // the customer lands: the next sync absorbs both merges
      f.mergeDim(deletes = Nil, upserts = Seq((99L, "s_late")))
      f.maintainer.sync()
      assert(f.values(f.rollup) === f.truth)
    } finally f.close()
  }

  test("a sync releases every RDD it persists, refused or not") {
    val f = new Fixture("release", 31, lossless = true)
    try {
      def persisted = spark.sparkContext.getPersistentRDDs.keySet
      val before = persisted
      f.mergeFact(deletes = Seq(2L), upserts = Seq((300L, 6L, 13L)))
      f.mergeDim(deletes = Nil, upserts = Seq((4L, "s_m")))
      f.maintainer.sync()
      assert(f.values(f.rollup) === f.truth)
      assert(persisted -- before === Set.empty, "a sync left RDDs persisted")
      // refused by a lossless guard, before the delta join
      f.mergeFact(deletes = Nil, upserts = Seq((301L, 99L, 4L)))
      intercept[IllegalArgumentException] { f.maintainer.sync() }
      assert(persisted -- before === Set.empty,
        "a guard-refused sync left RDDs persisted")
      // refused in the summary write (deletes of join rows that never
      // existed drive a group's count negative)
      val ghosts = (1L to 500L).map(i => (1000L + i, 1L, 5L))
        .toDF("o_id", "f_cust", "v")
      intercept[Exception] {
        StarMv.refreshTableDelta(spark, f.maintainer.definition, f.factKey,
          ghosts.limit(0), ghosts, tableOverrides = Map(
            f.factKey -> f.factStore.snapshot(),
            f.dimKey -> f.dimStore.snapshot()))
      }
      assert(persisted -- before === Set.empty,
        "a refresh refused in its write left RDDs persisted")
    } finally f.close()
  }

  test("per-table staleness: one unsynced merge disables serving, values stay right") {
    val f = new Fixture("stale", 29)
    try {
      f.mergeDim(deletes = Nil, upserts = Seq((5L, "s_moved")))
      // dim snapshot now has a different dir set than registered
      val q = f.rollup
      assert(scanPaths(q).exists(_.contains("smv_stale_ds")),
        "unsynced dim must force the live join")
      assert(f.values(q) === f.truth)
      f.maintainer.sync()
      assert(scanPaths(f.rollup).forall(_.contains("smv_stale_sum")))
      assert(f.values(f.rollup) === f.truth)

      // time travel: the PRE-sync fact version must not be served the
      // current summary
      val v1 = f.dimStore.history().head
      val old = f.factStore.snapshot()
        .join(f.dimStore.snapshotAt(v1), col("f_cust") === col("c_cust"))
        .groupBy("seg").agg(sum(col("v")).as("s"))
      assert(scanPaths(old).exists(_.contains("smv_stale_ds")),
        "time-travel join must fall back to the base tables")
    } finally f.close()
  }

  test("restart: open() resumes, re-arms serving, catches up") {
    val f = new Fixture("restart", 41)
    try {
      f.mergeFact(deletes = Seq(1L), upserts = Seq((300L, 2L, 11L)))
      f.maintainer.sync()
      // merges land while the maintainer is down
      f.mergeDim(deletes = Nil, upserts = Seq((2L, "s_r")))
      val m2 = StarMvMaintainer.open(spark,
        Map(f.factKey -> f.factStore, f.dimKey -> f.dimStore), f.statePath)
      assert(m2.syncedVersions === f.maintainer.syncedVersions)
      m2.sync()
      assert(f.values(f.rollup) === f.truth)
      assert(scanPaths(f.rollup).forall(_.contains("smv_restart_sum")))
    } finally f.close()
  }

  test("syncToBoundary: a torn multi-table batch never reaches the summary") {
    val f = new Fixture("bnd", 29)
    try {
      val cat = new graft.sources.SnapshotCatalog(spark, tmpDir("smv_bnd_cat"),
        Map(f.factStore.spec.name -> f.factStore,
          f.dimStore.spec.name -> f.dimStore))
      cat.commit() // boundary 1: the initial, consistent state
      val truthAtB1 = f.truth
      // the writer applies the FACT half of a two-table batch, then dies:
      // no dim merge, no catalog commit
      f.mergeFact(deletes = Seq(1L), upserts = Seq((300L, 2L, 77L)))
      f.maintainer.syncToBoundary(cat) // must be a no-op at boundary 1
      val snaps = cat.snapshotAll()
      def boundaryRollup = snaps(f.factStore.spec.name)
        .join(snaps(f.dimStore.spec.name), col("f_cust") === col("c_cust"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
      assert(f.values(boundaryRollup) === truthAtB1,
        "catalog reads stay on the consistent boundary")
      assert(scanPaths(boundaryRollup).forall(_.contains("smv_bnd_sum")),
        "the boundary rollup must serve from the summary")
      // the live (torn) rollup must NOT serve — its fact dirs moved past
      // the boundary — but evaluates correctly against the live join
      assert(scanPaths(f.rollup).exists(!_.contains("smv_bnd_sum")),
        "a torn live read must fall back to the base join")
      assert(f.values(f.rollup) === f.truth)
      // recovery: the dim half lands, the catalog commits boundary 2
      f.mergeDim(deletes = Nil, upserts = Seq((2L, "s_moved")))
      cat.commit()
      f.maintainer.syncToBoundary(cat)
      assert(f.values(f.rollup) === f.truth,
        "post-recovery summary equals the recomputed join truth")
      assert(scanPaths(f.rollup).forall(_.contains("smv_bnd_sum")),
        "the live rollup serves again once the boundary catches up")
    } finally f.close()
  }

  test("crash between refresh and state commit: re-apply converges") {
    val f = new Fixture("crash", 53)
    try {
      f.mergeDim(deletes = Seq(9L), upserts = Seq((4L, "s_c")))
      // run the refresh exactly as sync would (dim changed, fact didn't),
      // then "crash": reopen from the UNMOVED state file and sync again
      val dimV = f.dimStore.currentVersion
      val overrides = Map(
        f.factKey -> f.factStore.snapshot(),
        f.dimKey -> f.dimStore.snapshotAt(dimV))
      StarMv.refreshTableFromFeed(spark, f.maintainer.definition, f.dimKey,
        f.dimStore.changeFeedBetween(
          f.maintainer.syncedVersions(
            MaterializedView.normalize(f.dimKey)), dimV),
        tableOverrides = overrides)
      val m2 = StarMvMaintainer.open(spark,
        Map(f.factKey -> f.factStore, f.dimKey -> f.dimStore), f.statePath)
      m2.sync()
      assert(f.values(f.rollup) === f.truth,
        "re-applied feed must overwrite the orphan summary, not double-apply")
      assert(scanPaths(f.rollup).forall(_.contains("smv_crash_sum")))
    } finally f.close()
  }
}
