package graft.plans

import graft.plans.MaterializedView.MvDef
import graft.sources.VersionedTableStore
import org.apache.spark.sql.SparkSession

/** Durable, crash-safe maintenance of one single-table materialized view
  * over one CDC-synced [[VersionedTableStore]]: the store merges
  * micro-batches, [[sync]] applies each merge's change feed to the
  * summary, and a state file records (MV definition, synced store
  * version) so a restarted pipeline resumes exactly where it stopped.
  *
  * The MV is the one-table star ([[MvDef.asStar]]), so the sync and
  * commit protocol is [[StarMvMaintainer]]'s: refresh the next summary
  * generation from the feed, re-arm snapshot serving, commit the state
  * file with one atomic rename, gc old generations — and restore the
  * committed registration when any step before the commit fails. What
  * this class adds is the single-table face: the registered definition
  * is an [[MvDef]] (equal to the one [[MaterializedView.build]] returned,
  * up to its summary path), one per base, so a sync refuses when another
  * actor moved that registration ("not the owner" — the check every
  * refresh makes). The state file is the single-table fields of
  * [[MvCatalog]]'s codec plus `syncedVersions`; [[MvMaintainer.open]]
  * also resumes the older format (`group`, `measure`, `derived`,
  * `storeVersion`).
  *
  * The store must retain enough versions to cover the sync gap
  * (`retainedVersions >= 2` for per-batch syncing; more if syncs are less
  * frequent than merges — `changeFeedBetween` fails loudly when a
  * version aged out). Single maintainer per MV, same writer contract as
  * the store itself.
  */
final class MvMaintainer private (inner: StarMvMaintainer) {

  /** Surface this summary's synced-vs-current version lag in the state
    * endpoint — see [[StarMvMaintainer.attachMetrics]].
    */
  def attachMetrics(metrics: graft.obs.PipelineMetrics): Unit =
    inner.attachMetrics(metrics)

  /** The store version the summary currently reflects. */
  def syncedVersion: Long = inner.syncedVersions.values.head

  /** The current MV definition (summary path advances per sync). */
  def definition: MvDef = inner.current.asInstanceOf[MvDef]

  /** Absorb every store version committed since the last sync into the
    * summary, commit the state file, gc summary dirs older than
    * `keepSummaries` generations. A version-level no-op still re-arms
    * serving (a MOR compaction moves the dir set without a new version).
    * Returns the post-sync definition.
    */
  def sync(recomputeKeyCap: Int = 1000, keepSummaries: Int = 2): MvDef = {
    inner.sync(recomputeKeyCap, keepSummaries); definition
  }

  /** Sync to the version a [[graft.sources.SnapshotCatalog]] last
    * COMMITTED for this table instead of the store's current version —
    * see [[StarMvMaintainer.syncToBoundary]].
    */
  def syncToBoundary(catalog: graft.sources.SnapshotCatalog,
      recomputeKeyCap: Int = 1000, keepSummaries: Int = 2): MvDef = {
    inner.syncToBoundary(catalog, recomputeKeyCap, keepSummaries); definition
  }
}

object MvMaintainer {

  /** Start maintaining `d` (already built — its summary reflects the
    * store's CURRENT version) and write the initial state file.
    */
  def create(spark: SparkSession, store: VersionedTableStore, d: MvDef,
      statePath: String): MvMaintainer =
    new MvMaintainer(StarMvMaintainer.start(spark, Map(d.basePath -> store),
      d, statePath))

  /** Resume from a state file after a restart: re-registers the recorded
    * MvDef (the rewrite rule serves queries again immediately) and
    * continues syncing from the recorded store version.
    */
  def open(spark: SparkSession, store: VersionedTableStore,
      statePath: String): MvMaintainer =
    StarMvMaintainer.readState(spark, statePath) match {
      case (d: MvDef, kv) => new MvMaintainer(StarMvMaintainer.resume(spark,
        Map(d.basePath -> store), statePath, d, kv))
      case _ => throw new IllegalArgumentException(s"$statePath records a " +
        "star MV — resume it with StarMvMaintainer.open")
    }

  /** Summary dirs of the same stem at least `keep` generations behind
    * `current` (`<stem>_v<k>`; the original build path counts as `_v0`).
    */
  private[plans] def olderSummaries(current: String, keep: Int): Seq[String] = {
    val stem = StarMv.summaryBase(current)
    (0 until (StarMv.generation(current) - keep + 1).max(0)).map { k =>
      if (k == 0) stem else s"${stem}_v$k"
    }
  }
}
