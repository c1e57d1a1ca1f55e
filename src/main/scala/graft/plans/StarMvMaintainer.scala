package graft.plans

import graft.plans.StarMv.{QCol, StarMvDef}
import graft.sources.VersionedTableStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * Multi-table sequencing (the part a naive loop gets wrong): with two
  * changed tables, J(T₁",T₂") − J(T₁,T₂) = Δ₁⋈T₂ + T₁"⋈Δ₂ — each table's
  * feed must join the already-applied tables at their NEW versions and
  * the not-yet-applied ones at their OLD versions; joining everything at
  * its merged on-disk state would double-count Δ₁⋈Δ₂. The versioned
  * stores make the correct pinning expressible: [[sync]] walks the MV's
  * tables in definition order and passes `tableOverrides` built from
  * `snapshotAt(new)` / `snapshotAt(old)` accordingly. Every store must
  * retain enough versions to cover its sync gap.
  *
  * Durability protocol (why a state file: the signed-partial algebra is
  * NOT idempotent — applying one batch's feed twice double-subtracts its
  * deletes — so "which store versions has the summary absorbed" must
  * survive the process): refresh writes the next summary version dir,
  * then ONE atomic state-file rename commits (definition @ new summary
  * path, per-table synced versions) — a crash before the rename re-runs
  * the same refreshes from the same pinned versions and overwrites the
  * orphan dirs; a crash after it resumes cleanly. Summary dirs two
  * generations back are gc'd after the commit.
  *
  * The same protocol keeps a single-table MV ([[MvMaintainer]]): a
  * [[Registration]] says which registry the maintained definition lives
  * in and how its state file renders.
  *
  * Registry contract (same as [[StarMv]]'s own): ONE maintained
  * definition per table set — a second definition over the same tables
  * would be served for queries whose leaves match this maintainer's
  * freshness, without reflecting it.
  *
  * Scale per sync: per changed table, one signed delta join (feed × the
  * other tables — dimension sides broadcast in the star shape) + a
  * groups-sized merge + at most one pruned repair join. Never a fact
  * re-join; driver state is the definition and |tables| longs.
  */
final class StarMvMaintainer private (
    spark: SparkSession,
    stores: Map[String, VersionedTableStore],
    statePath: String,
    reg: StarMvMaintainer.Registration,
    // @volatile: attachMetrics' freshness probe reads these from the
    // metrics server thread while syncTo mutates them under `synchronized`
    @volatile private var d: StarMvDef,
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
  def definition: StarMvDef = d

  /** Surface this summary's per-table synced-vs-current version lag in
    * the state endpoint (`mv_freshness` in
    * [[graft.obs.PipelineMetrics.stateJson]]) — the alarm surface for a
    * stale accelerator: lag > 0 means every rollup is silently falling
    * back to the live join until the next [[sync]]. Named by the
    * summary's base path (stable across per-sync `_v<n>` advances).
    */
  def attachMetrics(metrics: graft.obs.PipelineMetrics): Unit = {
    val name = d.summaryPath.replaceAll("_v\\d+$", "")
    metrics.registerMvFreshness(name, () =>
      synced.map { case (p, v) => p -> (v, stores(p).currentVersion) })
  }

  /** Absorb every table's versions committed since the last sync, commit
    * the state file, re-arm snapshot serving for the new dir sets, gc old
    * summary generations. No-op when every table is current.
    */
  def sync(recomputeKeyCap: Int = 1000, keepSummaries: Int = 2): StarMvDef =
    syncTo(d.tables.map(MaterializedView.normalize)
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
      val tables = d.tables.map(MaterializedView.normalize)
      val current = target
      if (current == synced) {
        // version-level no-op, but the dir sets can still have moved: a
        // MOR compaction folds a stack into new dirs WITHOUT advancing
        // the seq (the summary stays exactly right — resolution is
        // unchanged), so re-arm serving for the current layout instead
        // of leaving the reroute dead until the next real merge
        tables.foreach(p => StarMvMaintainer.arm(stores(p), p, current(p)))
        return d
      }
      tables.foreach { p =>
        require(current(p) >= synced(p),
          s"store for $p is at version ${current(p)} but the maintainer " +
            s"already synced ${synced(p)} — state file $statePath belongs " +
            "to a different store lineage")
      }
      var nd = d
      try {
        tables.zipWithIndex.foreach { case (p, i) =>
          if (current(p) != synced(p)) {
            // applied tables (j < i) pin NEW, remaining (j > i) pin OLD;
            // this table pins NEW for the repair join (the state the
            // summary represents AFTER its delta)
            val overrides = tables.zipWithIndex.map { case (q, j) =>
              q -> stores(q).snapshotAt(
                if (j <= i) current(q) else synced(q))
            }.toMap
            val feed = stores(p).changeFeedBetween(synced(p), current(p))
            nd = reg.refresh(spark, nd, p, feed, recomputeKeyCap, overrides)
          }
        }
        // serving first (in-process consistency: new dir sets → new
        // summary), then the durable commit; a crash between the two
        // re-runs this sync idempotently from the old state. These two
        // steps sit INSIDE the try: a transient failure here must also
        // restore the committed registration, or every later sync()
        // would fail refreshTableDelta's currently-registered require —
        // wedging the maintainer until a process restart
        tables.foreach(p => StarMvMaintainer.arm(stores(p), p, current(p)))
        StarMvMaintainer.writeState(spark, statePath, reg, nd, current)
      } catch {
        // a mid-sequence failure leaves refreshTableDelta's LAST
        // registration half-synced (some tables' deltas absorbed, not
        // all) — restore the pre-sync registration (and its serving
        // dirs, best-effort), whose summary files are untouched until
        // the gc below, and let the caller retry
        case t: Throwable =>
          reg.restore(nd, d)
          tables.foreach(p =>
            scala.util.Try(StarMvMaintainer.arm(stores(p), p, synced(p))))
          throw t
      }
      // gc relative to the PREVIOUS committed summary, not the new head:
      // one sync advances one path generation PER CHANGED TABLE, so a
      // head-based count would delete the last committed generation right
      // after any multi-table sync — breaking the "a query planned
      // against it keeps evaluating" contract. keepSummaries counts
      // COMMITTED generations: 2 (default) retains the previous committed
      // one plus everything after it.
      val stale = MvMaintainer.olderSummaries(
        d.summaryPath, (keepSummaries - 1).max(1))
      d = nd
      synced = current
      val fs = new Path(statePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      stale.foreach(s => fs.delete(new Path(s), true))
      publishStats()
      d
    }
}

object StarMvMaintainer {

  /** Where a maintained definition is registered and how its state file
    * renders: [[StarMv]]'s registry and the star codec, or — for
    * [[MvMaintainer]] — the single-table registry and its own format.
    */
  private[plans] trait Registration {
    def register(d: StarMvDef): Unit
    /** undo a failed sync: `failed` was registered, `committed` was not */
    def restore(failed: StarMvDef, committed: StarMvDef): Unit
    def refresh(spark: SparkSession, d: StarMvDef, table: String,
        feed: DataFrame, recomputeKeyCap: Int,
        overrides: Map[String, DataFrame]): StarMvDef
    def state(d: StarMvDef, synced: Map[String, Long]): Seq[(String, String)]
  }

  private object StarRegistration extends Registration {
    def register(d: StarMvDef): Unit = StarMv.register(d)
    def restore(failed: StarMvDef, committed: StarMvDef): Unit = {
      StarMv.unregister(failed.summaryPath)
      StarMv.register(committed)
    }
    def refresh(spark: SparkSession, d: StarMvDef, table: String,
        feed: DataFrame, recomputeKeyCap: Int,
        overrides: Map[String, DataFrame]): StarMvDef =
      StarMv.refreshTableFromFeed(spark, d, table, feed, recomputeKeyCap,
        overrides)
    def state(d: StarMvDef,
        synced: Map[String, Long]): Seq[(String, String)] =
      StarMvCodec.renderDef(d) :+ ("syncedVersions" -> synced.toSeq.sorted
        .map { case (t, v) => s"${StarMvCodec.enc(t)}=$v" }.mkString(","))
  }

  /** Start maintaining `d` (already built via [[StarMv.build]] — its
    * summary reflects every store's CURRENT version), write the initial
    * state, and arm snapshot serving for the current dir sets. `stores`
    * is keyed by the definition's table paths.
    */
  def create(spark: SparkSession, stores: Map[String, VersionedTableStore],
      d: StarMvDef, statePath: String): StarMvMaintainer =
    start(spark, stores, d, statePath, StarRegistration)

  private[plans] def start(spark: SparkSession,
      stores: Map[String, VersionedTableStore], d: StarMvDef,
      statePath: String, reg: Registration): StarMvMaintainer = {
    val byKey = storesByKey(stores, d)
    reg.register(d)
    val current = byKey.map { case (p, s) => p -> s.currentVersion }
    writeState(spark, statePath, reg, d, current)
    byKey.foreach { case (p, s) => arm(s, p, current(p)) }
    new StarMvMaintainer(spark, byKey, statePath, reg, d, current)
  }

  /** Resume from a state file after a restart: re-registers the recorded
    * definition and re-arms snapshot serving for the recorded versions
    * (skipped per table when that version aged out of retention — the
    * next [[StarMvMaintainer.sync]] then fails loudly, the rebuild
    * signal).
    */
  def open(spark: SparkSession, stores: Map[String, VersionedTableStore],
      statePath: String): StarMvMaintainer = {
    val kv = readState(spark, statePath)
    val synced = kv("syncedVersions").split(",", -1).toSeq.filter(_.nonEmpty)
      .map { pair =>
        val Array(t, v) = pair.split("=", 2); StarMvCodec.dec(t) -> v.toLong
      }.toMap
    resume(spark, stores, statePath, StarMvCodec.parseDef(kv), synced,
      StarRegistration)
  }

  private[plans] def resume(spark: SparkSession,
      stores: Map[String, VersionedTableStore], statePath: String,
      d: StarMvDef, synced: Map[String, Long],
      reg: Registration): StarMvMaintainer = {
    val byKey = storesByKey(stores, d)
    reg.register(d)
    byKey.foreach { case (p, s) => scala.util.Try(arm(s, p, synced(p))) }
    new StarMvMaintainer(spark, byKey, statePath, reg, d, synced)
  }

  private def storesByKey(stores: Map[String, VersionedTableStore],
      d: StarMvDef): Map[String, VersionedTableStore] = {
    val byKey = stores.map { case (p, s) => MaterializedView.normalize(p) -> s }
    val tables = d.tables.map(MaterializedView.normalize)
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

  /** The `key<TAB>value` lines of a maintainer state file. */
  private[plans] def readState(spark: SparkSession,
      statePath: String): Map[String, String] = {
    val p = new Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no maintainer state at $statePath — create() first")
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    body.linesIterator.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1)
    }.toMap
  }

  private def writeState(spark: SparkSession, statePath: String,
      reg: Registration, d: StarMvDef, synced: Map[String, Long]): Unit =
    graft.sources.AtomicFiles.write(spark.sparkContext.hadoopConfiguration,
      new Path(statePath), reg.state(d, synced)
        .map { case (k, v) => s"$k\t$v" }.mkString("\n").getBytes("UTF-8"))
}

/** The [[StarMv.StarMvDef]] ↔ state-file codec both durable maintainers
  * ([[StarMvMaintainer]], [[JdbcStarMaintainer]]) share: one
  * `key<TAB>value` line per field, values URL-encoded element-wise.
  */
private[plans] object StarMvCodec {

  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  def renderDef(d: StarMvDef): Seq[(String, String)] = {
    def qcol(q: QCol) = s"${enc(q.path)}|${enc(q.name)}"
    Seq(
      "tables" -> d.tables.map(enc).mkString(","),
      "joins" -> d.joins.map { case (a, b) => s"${qcol(a)}~${qcol(b)}" }
        .mkString(","),
      "groups" -> d.groupCols.map(qcol).mkString(","),
      "measures" -> d.measureCols.map(qcol).mkString(","),
      "summary" -> enc(d.summaryPath),
      "derived" -> d.derivedMeasures
        .map { case (n, sql) => s"${enc(n)}=${enc(sql)}" }.mkString(","),
      "lossless" -> d.losslessTables.map(enc).mkString(","),
      "derivedGroups" -> d.derivedGroups
        .map { case (n, sql) => s"${enc(n)}=${enc(sql)}" }.mkString(","))
  }

  def parseDef(kv: Map[String, String]): StarMvDef = {
    def split(s: String): Seq[String] =
      if (s.isEmpty) Nil else s.split(",", -1).toSeq
    def qcol(s: String): QCol = {
      val Array(path, name) = s.split("\\|", 2); QCol(dec(path), dec(name))
    }
    StarMvDef(
      tables = split(kv("tables")).map(dec),
      joins = split(kv("joins")).map { pair =>
        val Array(a, b) = pair.split("~", 2); (qcol(a), qcol(b)) },
      groupCols = split(kv("groups")).map(qcol),
      measureCols = split(kv("measures")).map(qcol),
      summaryPath = dec(kv("summary")),
      derivedMeasures = split(kv("derived")).map { pair =>
        val Array(n, sql) = pair.split("=", 2); (dec(n), dec(sql)) },
      // absent in pre-lossless state files → Nil (sub-join serving off,
      // which is the conservative direction)
      losslessTables = split(kv.getOrElse("lossless", "")).map(dec),
      derivedGroups = split(kv.getOrElse("derivedGroups", "")).map { pair =>
        val Array(n, sql) = pair.split("=", 2); (dec(n), dec(sql)) })
  }
}
