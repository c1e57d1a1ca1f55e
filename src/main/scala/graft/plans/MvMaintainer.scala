package graft.plans

import graft.plans.MaterializedView.MvDef
import graft.plans.StarMv.StarMvDef
import graft.sources.VersionedTableStore
import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * this class adds is the single-table face: the definition lives in
  * [[MaterializedView]]'s per-base registry (so it is an [[MvDef]], equal
  * to the one [[MaterializedView.build]] returned, up to its summary
  * path), a sync refuses when another actor moved that registration, and
  * the state file keeps its own format (keys `base`, `group`, `measure`,
  * `summary`, `derived`, `storeVersion`).
  *
  * The store must retain enough versions to cover the sync gap
  * (`retainedVersions >= 2` for per-batch syncing; more if syncs are less
  * frequent than merges — `changeFeedBetween` fails loudly when a
  * version aged out). Single maintainer per MV, same writer contract as
  * the store itself.
  */
final class MvMaintainer private (inner: StarMvMaintainer, template: MvDef) {

  /** Surface this summary's synced-vs-current version lag in the state
    * endpoint — see [[StarMvMaintainer.attachMetrics]].
    */
  def attachMetrics(metrics: graft.obs.PipelineMetrics): Unit =
    inner.attachMetrics(metrics)

  /** The store version the summary currently reflects. */
  def syncedVersion: Long = inner.syncedVersions.values.head

  /** The current MV definition (summary path advances per sync). */
  def definition: MvDef = template.copy(summaryPath = inner.definition.summaryPath)

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
      d.asStar, statePath, new Single(d)), d)

  /** Resume from a state file after a restart: re-registers the recorded
    * MvDef (the rewrite rule serves queries again immediately) and
    * continues syncing from the recorded store version.
    */
  def open(spark: SparkSession, store: VersionedTableStore,
      statePath: String): MvMaintainer = {
    val kv = StarMvMaintainer.readState(spark, statePath)
    def list(s: String) = if (s.isEmpty) Nil else s.split(",", -1).toSeq.map(dec)
    val d = MvDef(
      basePath = dec(kv("base")),
      groupCols = list(kv("group")),
      measureCols = list(kv("measure")),
      summaryPath = dec(kv("summary")),
      derivedGroups = if (kv("derived").isEmpty) Nil
        else kv("derived").split(",", -1).toSeq.map { pair =>
          val Array(n, sql) = pair.split("=", 2); (dec(n), dec(sql))
        })
    new MvMaintainer(StarMvMaintainer.resume(spark,
      Map(d.basePath -> store), statePath, d.asStar,
      Map(MaterializedView.normalize(d.basePath) -> kv("storeVersion").toLong),
      new Single(d)), d)
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  /** The single-table [[StarMvMaintainer.Registration]]: every committed
    * generation of `template` is registered as an [[MvDef]] under its
    * base path.
    */
  private final class Single(template: MvDef)
      extends StarMvMaintainer.Registration {
    private def mv(d: StarMvDef): MvDef =
      template.copy(summaryPath = d.summaryPath)

    def register(d: StarMvDef): Unit = MaterializedView.register(mv(d))

    // the registry holds one MV per base, so re-registering replaces
    def restore(failed: StarMvDef, committed: StarMvDef): Unit =
      register(committed)

    def refresh(spark: SparkSession, d: StarMvDef, table: String,
        feed: DataFrame, recomputeKeyCap: Int,
        overrides: Map[String, DataFrame]): StarMvDef = {
      // the signed algebra is NOT idempotent, so a refresh must start
      // from the summary this maintainer COMMITTED — refuse if some other
      // actor moved the registration (refreshing from an uncommitted
      // summary would re-apply this feed on the already-refreshed state,
      // double-subtracting its deletes)
      val reg = MaterializedView.lookup(MaterializedView.normalize(table))
      require(reg.contains(mv(d)),
        s"registry for ${template.basePath} holds ${reg.map(_.summaryPath)} " +
          s"but the maintainer committed ${d.summaryPath} — its state file " +
          "is not the owner of this MV")
      MaterializedView.refreshFromFeed(spark, template.basePath, feed,
        recomputeKeyCap, overrides.values.headOption).asStar
    }

    def state(d: StarMvDef, synced: Map[String, Long]): Seq[(String, String)] =
      Seq(
        "base" -> enc(template.basePath),
        "group" -> template.groupCols.map(enc).mkString(","),
        "measure" -> template.measureCols.map(enc).mkString(","),
        "summary" -> enc(d.summaryPath),
        "derived" -> template.derivedGroups
          .map { case (n, sql) => s"${enc(n)}=${enc(sql)}" }.mkString(","),
        "storeVersion" -> synced.values.head.toString)
  }

  /** Summary dirs of the same stem at least `keep` generations behind
    * `current` (`<stem>_v<k>`; the original build path counts as `_v0`).
    */
  private[plans] def olderSummaries(current: String, keep: Int): Seq[String] = {
    val stemRe = "_v(\\d+)$".r
    val (stem, cur) = stemRe.findFirstMatchIn(current) match {
      case Some(m) => (current.substring(0, m.start), m.group(1).toInt)
      case None => (current, 0)
    }
    (0 until (cur - keep + 1).max(0)).map { k =>
      if (k == 0) stem else s"${stem}_v$k"
    }
  }
}
