package graft.plans

import graft.plans.StarMv.StarMvDef
import graft.sources.VersionedTableStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Durable, crash-safe maintenance of a STAR materialized view over a set
  * of CDC-synced [[VersionedTableStore]]s (copy-on-write
  * [[graft.sources.ParquetTableStore]] or merge-on-read
  * [[graft.sources.MorTableStore]], freely mixed) — the full
  * Greenplum-user story:
  * fact and dimensions each sync through CDC merges, the pre-joined
  * summary absorbs every table's change feed incrementally, and rollup
  * queries that join the LIVE snapshots reroute to the summary while each
  * leaf's dir set still matches its last synced version.
  *
  * One sync is ONE refresh ([[StarMv.refresh]]): every changed
  * table's feed folds into one signed delta join, one affected-group
  * probe, one min/max repair and one summary generation. With two
  * changed tables, J(T₁",T₂") − J(T₁,T₂) = Δ₁⋈T₂ + T₁"⋈Δ₂ — each feed
  * joins the tables before it in definition order at their NEW versions
  * and the ones after it at their OLD versions; joining everything at
  * its merged on-disk state would double-count Δ₁⋈Δ₂. The versioned
  * stores make the pinning expressible: [[sync]] hands the refresh each
  * table's `snapshotAt(old)` and `snapshotAt(new)`. Every store must
  * retain enough versions to cover its sync gap.
  *
  * Durability protocol (why a state file: the signed-partial algebra is
  * NOT idempotent — applying one batch's feed twice double-subtracts its
  * deletes — so "which store versions has the summary absorbed" must
  * survive the process): refresh writes the next summary version dir,
  * then ONE atomic state-file rename commits (definition @ new summary
  * path, per-table synced versions) — a crash before the rename re-runs
  * the same refresh from the same pinned versions and overwrites the
  * orphan dir; a crash after it resumes cleanly. Summary dirs two
  * generations back are gc'd after the commit.
  *
  * The same protocol keeps a single-table MV ([[MvMaintainer]]): the
  * maintained definition is an [[MvDefinition]] of either shape, held in
  * the one MV registry ([[StarMv.definitions]]) and written down by the
  * one codec ([[MvCatalog.fields]]), so nothing here depends on the
  * shape. The state file is the definition's fields plus
  * `syncedVersions`; this object's state layer ([[readState]],
  * [[writeState]], [[storesByKey]]) is also [[JdbcStarMaintainer]]'s.
  *
  * Registry contract (same as [[StarMv]]'s own): ONE maintained
  * definition per table set — a second definition over the same tables
  * would be served for queries whose leaves match this maintainer's
  * freshness, without reflecting it.
  *
  * Scale per sync: one signed delta join (each changed table's feed ×
  * the other tables — dimension sides broadcast in the star shape) + a
  * groups-sized merge + at most one pruned repair join, whatever the
  * number of changed tables. Never a fact re-join; driver state is the
  * definition and |tables| longs.
  */
final class StarMvMaintainer private (
    spark: SparkSession,
    stores: Map[String, VersionedTableStore],
    statePath: String,
    // @volatile: attachMetrics' freshness probe reads these from the
    // metrics server thread while syncTo mutates them under `synchronized`
    @volatile private var d: MvDefinition,
    @volatile private var synced: Map[String, Long]) {

  /** Per-table store versions the summary currently reflects (keys are
    * normalized table paths).
    */
  def syncedVersions: Map[String, Long] = synced

  /** Publish each store's persisted ANALYZE row count AND byte size
    * (when one exists) to the serving cost model under the MV's table
    * key — plan-time cost then needs no filesystem probe for these
    * tables, and the byte tier gets a real base-side number. Re-run per
    * sync so the counts track the stats records' own staleness, no
    * tighter.
    */
  private def publishStats(): Unit = stores.foreach { case (p, s) =>
    s.stats().foreach { st =>
      MvCost.registerRowCount(p, st.nRows, st.bytes)
      // per-column NDVs ride along — MvAdvisor's stats-first tier prices
      // future candidates over these tables with no data touch
      MvCost.registerColumnNdv(p,
        st.columns.map(c => c.name -> c.ndvEst).toMap)
    }
  }
  publishStats()

  /** The current definition (summary path advances per sync). */
  def definition: StarMvDef = d.asStar

  /** The current definition in its registered shape. */
  private[plans] def current: MvDefinition = d

  /** Surface this summary's per-table synced-vs-current version lag in
    * the state endpoint (`mv_freshness` in
    * [[graft.obs.PipelineMetrics.stateJson]]) — the alarm surface for a
    * stale accelerator: lag > 0 means every rollup is silently falling
    * back to the live join until the next [[sync]]. Named by the
    * summary's base path (stable across per-sync `_v<n>` advances).
    */
  def attachMetrics(metrics: graft.obs.PipelineMetrics): Unit = {
    val name = StarMv.summaryBase(d.summaryPath)
    metrics.registerMvFreshness(name, () =>
      synced.map { case (p, v) => p -> (v, stores(p).currentVersion) })
  }

  /** Absorb every table's versions committed since the last sync, commit
    * the state file, re-arm snapshot serving for the new dir sets, gc old
    * summary generations. No-op when every table is current.
    */
  def sync(recomputeKeyCap: Int = 1000, keepSummaries: Int = 2): StarMvDef =
    syncTo(d.asStar.tables.map(MaterializedView.normalize)
      .map(p => p -> stores(p).currentVersion).toMap,
      recomputeKeyCap, keepSummaries)

  /** Sync to the versions a [[graft.sources.SnapshotCatalog]] last
    * COMMITTED instead of each store's current version: the summary then
    * never reflects a torn multi-table batch — a writer that died after
    * merging table A but before table B (or before the catalog commit)
    * leaves the maintainer, the catalog readers, and the summary all at
    * the same consistent boundary. Dir-set serving is armed for the
    * boundary versions, so rollups over `catalog.snapshotAll()` reroute
    * while live torn `store.snapshot()` reads structurally fall back.
    */
  def syncToBoundary(catalog: graft.sources.SnapshotCatalog,
      recomputeKeyCap: Int = 1000, keepSummaries: Int = 2): StarMvDef = {
    val rec = catalog.current()
    syncTo(stores.map { case (p, s) =>
      p -> rec.getOrElse(s.spec.name, throw new IllegalArgumentException(
        s"catalog has no entry for table ${s.spec.name} — commit() the " +
          "catalog at least once over all the MV's tables"))
    }, recomputeKeyCap, keepSummaries)
  }

  private def syncTo(target: Map[String, Long], recomputeKeyCap: Int,
      keepSummaries: Int): StarMvDef =
    synchronized {
      val tables = d.asStar.tables.map(MaterializedView.normalize)
      val current = target
      if (current == synced) {
        // version-level no-op, but the dir sets can still have moved: a
        // MOR compaction folds a stack into new dirs WITHOUT advancing
        // the seq (the summary stays exactly right — resolution is
        // unchanged), so re-arm serving for the current layout instead
        // of leaving the reroute dead until the next real merge
        tables.foreach(p => StarMvMaintainer.arm(stores(p), p, current(p)))
        return definition
      }
      tables.foreach { p =>
        require(current(p) >= synced(p),
          s"store for $p is at version ${current(p)} but the maintainer " +
            s"already synced ${synced(p)} — state file $statePath belongs " +
            "to a different store lineage")
      }
      // ONE refresh per sync, however many tables changed
      val changed = tables.filter(p => current(p) != synced(p))
      val after = tables.map(p => p -> stores(p).snapshotAt(current(p))).toMap
      val nd = StarMv.refreshFromFeeds(spark, d,
        changed.map(p => p -> stores(p).changeFeedBetween(synced(p), current(p))),
        after ++ changed.map(p => p -> stores(p).snapshotAt(synced(p))),
        after, recomputeKeyCap)
      try {
        // serving first (in-process consistency: new dir sets → new
        // summary), then the durable commit; a crash between the two
        // re-runs this sync idempotently from the old state. A transient
        // failure here restores the committed registration (and its
        // serving dirs, best-effort), whose summary files are untouched
        // until the gc below, or every later sync() would fail the
        // refresh's currently-registered require — wedging the maintainer
        // until a process restart
        tables.foreach(p => StarMvMaintainer.arm(stores(p), p, current(p)))
        StarMvMaintainer.writeState(spark, statePath, nd,
          StarMvMaintainer.syncedLine(current))
      } catch {
        case t: Throwable =>
          StarMv.put(d, retired = Some(nd.summaryPath))
          tables.foreach(p =>
            scala.util.Try(StarMvMaintainer.arm(stores(p), p, synced(p))))
          throw t
      }
      // the previous committed generation always survives, so a query
      // planned against it keeps evaluating
      val stale = MvMaintainer.olderSummaries(
        nd.summaryPath, keepSummaries.max(2))
      d = nd
      synced = current
      val fs = new Path(statePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      stale.foreach(s => fs.delete(new Path(s), true))
      publishStats()
      definition
    }
}

object StarMvMaintainer {

  /** Start maintaining `d` (already built via [[StarMv.build]] — its
    * summary reflects every store's CURRENT version), write the initial
    * state, and arm snapshot serving for the current dir sets. `stores`
    * is keyed by the definition's table paths.
    */
  def create(spark: SparkSession, stores: Map[String, VersionedTableStore],
      d: StarMvDef, statePath: String): StarMvMaintainer =
    start(spark, stores, d, statePath)

  private[plans] def start(spark: SparkSession,
      stores: Map[String, VersionedTableStore], d: MvDefinition,
      statePath: String): StarMvMaintainer = {
    val byKey = storesByKey(stores, d)
    StarMv.put(d)
    val current = byKey.map { case (p, s) => p -> s.currentVersion }
    writeState(spark, statePath, d, syncedLine(current))
    byKey.foreach { case (p, s) => arm(s, p, current(p)) }
    new StarMvMaintainer(spark, byKey, statePath, d, current)
  }

  /** Resume from a state file after a restart: re-registers the recorded
    * definition and re-arms snapshot serving for the recorded versions
    * (skipped per table when that version aged out of retention — the
    * next [[StarMvMaintainer.sync]] then fails loudly, the rebuild
    * signal).
    */
  def open(spark: SparkSession, stores: Map[String, VersionedTableStore],
      statePath: String): StarMvMaintainer = {
    val (d, kv) = readState(spark, statePath)
    resume(spark, stores, statePath, d, kv)
  }

  private[plans] def resume(spark: SparkSession,
      stores: Map[String, VersionedTableStore], statePath: String,
      d: MvDefinition, kv: Map[String, String]): StarMvMaintainer = {
    val byKey = storesByKey(stores, d)
    val synced = kv.get("syncedVersions") match {
      case Some(vs) => vs.split(",", -1).toSeq.filter(_.nonEmpty).map { pair =>
        val Array(t, v) = pair.split("=", 2); MvCatalog.dec(t) -> v.toLong
      }.toMap
      // a single-table maintainer's state file before the shared codec
      case None => Map(byKey.keys.head -> kv("storeVersion").toLong)
    }
    StarMv.put(d)
    byKey.foreach { case (p, s) => scala.util.Try(arm(s, p, synced(p))) }
    new StarMvMaintainer(spark, byKey, statePath, d, synced)
  }

  private def syncedLine(synced: Map[String, Long]): Seq[(String, String)] =
    Seq("syncedVersions" -> synced.toSeq.sorted
      .map { case (t, v) => s"${MvCatalog.enc(t)}=$v" }.mkString(","))

  /** `stores` keyed by normalized table path, refused unless they cover
    * exactly `d`'s tables — every maintainer's check against its stores.
    */
  private[plans] def storesByKey[S](stores: Map[String, S],
      d: MvDefinition): Map[String, S] = {
    val byKey = stores.map { case (p, s) => MaterializedView.normalize(p) -> s }
    val tables = d.asStar.tables.map(MaterializedView.normalize)
    require(tables.toSet == byKey.keySet,
      s"stores must cover exactly the MV's tables: ${tables.sorted} vs " +
        s"${byKey.keySet.toSeq.sorted}")
    byKey
  }

  /** Make table `p`'s dir set at version `v` the one snapshot serving
    * matches (fails when `v` aged out of the store's retention).
    */
  private def arm(store: VersionedTableStore, p: String, v: Long): Unit =
    MaterializedView.replaceDirs(p, store.dataDirsAt(v), store.stackedDirsAt(v))

  /** A maintainer state file: the recorded definition, and every
    * `key<TAB>value` line (the maintainer's own progress lines included).
    */
  private[plans] def readState(spark: SparkSession,
      statePath: String): (MvDefinition, Map[String, String]) = {
    val kv = MvCatalog.kv(MvCatalog.readText(spark, statePath,
      s"no maintainer state at $statePath — create() first").linesIterator)
    (MvCatalog.parse(kv), kv)
  }

  /** Commit a state file — `d`'s fields, then the maintainer's own
    * progress lines — with one atomic rename.
    */
  private[plans] def writeState(spark: SparkSession, statePath: String,
      d: MvDefinition, progress: Seq[(String, String)]): Unit =
    MvCatalog.writeText(spark, statePath,
      MvCatalog.render(MvCatalog.fields(d) ++ progress, "\n"))
}
