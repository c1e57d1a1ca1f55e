package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.HadoopFsRelation

/** Single-table materialized views: a registered summary table (per-group
  * partial aggregates over one base table) that [[MvRewriteRule]] serves
  * rollups from instead of scanning the base — the classic OLAP
  * accelerator the reference's users get from Greenplum MVs over
  * CDC-synced tables (reference: README.md:9,15), here as a
  * `Rule[LogicalPlan]` so EVERY query phrased against the base table
  * speeds up with zero query changes.
  *
  * A single-table MV is the one-table star with no joins
  * ([[MvDef.asStar]]): [[StarMv]] builds its summary, refreshes it with
  * the same signed-delta algebra and serves it through the same matcher
  * (plain and ROLLUP/CUBE shapes, derived day groups, day-range filter
  * recovery), and [[StarMv]]'s one registry holds it next to the stars.
  * What this object keeps is the single-table surface: ONE MV per base
  * path ([[register]] replaces, [[unregister]] also drops the base's
  * snapshot dir sets), the exact dir-set registry that versioned store
  * snapshots are matched through, and the path-keyed build/refresh API.
  *
  * Scale: this is the 100 TB shape — the base scan (hours) happens once at
  * build; every rollup thereafter reads groups × partials rows (KB–MB).
  * Staleness is the caller's contract, as with any MV: rebuild after base
  * loads, refresh, or unregister. [[MaterializedView.build]] unregisters
  * before it recomputes so a rebuild can never be satisfied from its own
  * stale summary.
  *
  * Deployment: `GraftExtensions` injects [[MvRewriteRule]] for sessions
  * built with `spark.sql.extensions=graft.GraftExtensions`;
  * [[MaterializedView.install]] hooks the same rule into an existing
  * session via `spark.experimental.extraOptimizations`. The rule is
  * idempotent (a rewritten plan scans the summary path, which is never a
  * registered base), so double installation is harmless. Kill switch:
  * `spark.graft.mv.enabled=false`.
  */
object MaterializedView {

  /** A registered summary: `summaryPath` holds, per distinct combination
    * of `groupCols`, the partial columns `s_<m>, c_<m>, mn_<m>, mx_<m>`
    * for every measure m plus `cnt` = count(*).
    *
    * `derivedGroups` maps group-column names that are EXPRESSIONS over the
    * base (name → SQL text, e.g. `"day" -> "cast(ts as date)"`) — the
    * time-hierarchy MV shape, where the base has no materialized day
    * column but every dashboard groups by one. The rewrite matches a query
    * grouping by the same (optimized) expression and reroutes it to the
    * summary's column; an optimizer rewrite that ELIMINATES the
    * expression before our rule runs falls back to the base — correct,
    * just unaccelerated.
    */
  final case class MvDef(basePath: String, groupCols: Seq[String],
      measureCols: Seq[String], summaryPath: String,
      derivedGroups: Seq[(String, String)] = Nil) extends MvDefinition {
    /** The same MV as a one-table star: no joins, the plain group columns
      * and measures qualified by the base path.
      */
    private[plans] lazy val asStar: StarMv.StarMvDef = {
      val derived = derivedGroups.map(_._1).toSet
      StarMv.StarMvDef(tables = Seq(basePath), joins = Nil,
        groupCols = groupCols.filterNot(derived).map(StarMv.QCol(basePath, _)),
        measureCols = measureCols.map(StarMv.QCol(basePath, _)),
        summaryPath = summaryPath, derivedGroups = derivedGroups)
    }
    private[plans] lazy val baseKey: Option[String] = Some(normalize(basePath))
    private[plans] def withSummary(p: String): MvDef = copy(summaryPath = p)
  }

  /** REGISTRY SCOPES: the MV registry ([[StarMv.definitions]], which
    * holds this object's MvDefs next to the stars) and the dir-set
    * registry are keyed by the active session's `spark.graft.mv.scope`
    * tag (default `"global"`), so two sessions that set distinct tags
    * register and serve independently — the isolation boundary that
    * makes a shared JVM (a test suite, a multi-tenant driver) safe
    * without threading a catalog object through every call site. The
    * default keeps today's JVM-global behavior: untagged sessions
    * (including the streaming micro-batch clones, which copy the session
    * conf) all share the `"global"` scope. The register/unregister/lookup
    * API just resolves the active scope first. THREAD CONTRACT for
    * non-default scopes: scope resolution reads the ACTIVE (thread-local,
    * else default) session, so a tenant using a custom tag must run its
    * registrations, maintainer syncs, and queries on threads where its
    * session is active (`SparkSession.setActiveSession`) — a bare
    * scheduler thread falls back to the default session's scope and would
    * look up the wrong registry (loud for maintainers: the refresh's
    * currently-registered require misses).
    */
  private val dirRegistries =
    new ConcurrentHashMap[String, ConcurrentHashMap[Set[String], DirReg]]()

  /** One registered snapshot dir set: the base KEY it serves, plus the
    * subset of dirs that belong to STACKED (multi-dir) MOR buckets. A
    * stacked dir still holds unresolved duplicate key versions, so a
    * whole-table match over a set with any stacked member must carry the
    * newest-wins resolution Window over exactly those dirs —
    * [[graft.plans.StoreResolvePlan]] enforces it per branch. Empty for
    * CoW stores and single-dir MOR buckets.
    */
  private[plans] final case class DirReg(key: String, stacked: Set[String])

  private[plans] def scopeTag: String =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.conf.get("spark.graft.mv.scope", "global"))
      .getOrElse("global")

  /** Scan roots of a file-based relation, scheme-stripped — the ONE
    * normalization every leaf matcher and the dir registry must share
    * (a divergence would silently break exact-set matching).
    */
  private[plans] def fsRoots(
      relation: org.apache.spark.sql.sources.BaseRelation): Seq[String] =
    relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
      case _ => Nil
    }

  private[plans] def normalize(path: String): String =
    // a JDBC serving key ([[graft.sources.JdbcTableStore.servingKey]]) is
    // an identity, not a path — Path-normalizing it would mangle the URL
    if (path.startsWith("jdbc::")) path
    else new org.apache.hadoop.fs.Path(path).toUri.getPath

  /** Register `d` as THE MV of its base (scheme-stripped, absolute path),
    * replacing the one registered there. Scheme-stripped matching means a
    * file:/ and an hdfs:/ path with identical string forms would collide —
    * acceptable for a single-filesystem deployment, documented here for
    * the day it isn't.
    */
  def register(d: MvDef): Unit = StarMv.put(d)
  def unregister(basePath: String): Unit = {
    val key = normalize(basePath)
    StarMv.drop(_.baseKey.contains(key))
    replaceDirs(basePath, Nil)
  }
  /** Test hygiene: wipes EVERY scope, not just the active one. */
  def clear(): Unit = { StarMv.clear(); dirRegistries.clear(); MvCost.clear() }
  private[plans] def lookup(path: String): Option[MvDef] =
    StarMv.definitions.collectFirst {
      case d: MvDef if d.baseKey.contains(path) => d }

  /** Exact scan-root-set registry for snapshot serving: a versioned store's
    * snapshot reads the manifest's data DIRS (many roots, no single
    * registered path), so [[MvMaintainer]] registers the dir set its
    * summary exactly reflects, mapped to the MV's base key. Matching is
    * EXACT set equality — that is the staleness guard: any later merge
    * rewrites at least one bucket dir, the new snapshot's root set no
    * longer matches, and the query silently falls back to the base until
    * the maintainer syncs again. A time-travel read of an older version
    * misses the same way. Registered sets are bounded by the store's
    * bucket count. Scoped like the MV registry.
    */
  private def dirRegistry: ConcurrentHashMap[Set[String], DirReg] =
    dirRegistries.computeIfAbsent(scopeTag, _ => new ConcurrentHashMap())

  /** `stackedDirs`: the subset of `dirs` in multi-dir MOR buckets (see
    * [[DirReg]]) — what [[graft.sources.VersionedTableStore.stackedDirsAt]]
    * reports. Must be a subset of `dirs`.
    */
  def registerDirs(dirs: Seq[String], basePath: String,
      stackedDirs: Seq[String] = Nil): Unit = {
    require(dirs.nonEmpty, "registerDirs needs at least one scan root")
    val all = dirs.map(normalize).toSet
    val stacked = stackedDirs.map(normalize).toSet
    require(stacked.subsetOf(all),
      "stackedDirs must be a subset of the registered dirs")
    dirRegistry.put(all, DirReg(normalize(basePath), stacked)); ()
  }
  def unregisterDirs(dirs: Seq[String]): Unit = {
    dirRegistry.remove(dirs.map(normalize).toSet); ()
  }

  /** Make `dirs` the ONLY registered dir set for `basePath` — what a
    * maintainer calls per sync, so superseded snapshot sets (whose
    * summaries may be gc'd, and whose content the new summary does NOT
    * reflect) can never be served again. An EMPTY `dirs` (a store version
    * with no data files — e.g. a fresh empty table) just clears: an empty
    * snapshot plans no file relation, so there is nothing to match.
    */
  def replaceDirs(basePath: String, dirs: Seq[String],
      stackedDirs: Seq[String] = Nil): Unit = {
    val key = normalize(basePath)
    dirRegistry.entrySet().removeIf(_.getValue.key == key)
    if (dirs.nonEmpty) registerDirs(dirs, basePath, stackedDirs)
  }
  /** The registration of an exact dir set: the base KEY [[StarMv]]'s leaf
    * matching identifies a store snapshot by, and the stacked subset
    * [[StoreResolvePlan]] validates the dirs matched without the Window
    * against.
    */
  private[plans] def lookupDirReg(dirs: Set[String]): Option[DirReg] =
    Option(dirRegistry.get(dirs))

  /** Compute the summary for (groupCols, measureCols) over the parquet
    * base, write it to `summaryPath`, and register the MV. One full base
    * scan with map-side partial aggregation — the one-time cost every
    * later rollup amortizes. `base` overrides the build scan's source for
    * bases that aren't a single parquet path (a versioned store's
    * snapshot registered for dir-set serving) — `basePath` is then purely
    * the registry key.
    */
  def build(spark: SparkSession, basePath: String, groupCols: Seq[String],
      measureCols: Seq[String], summaryPath: String,
      derivedGroups: Seq[(String, String)] = Nil,
      base: Option[DataFrame] = None): MvDef = {
    require(groupCols.nonEmpty, "MV needs at least one group column")
    require((groupCols ++ measureCols).distinct.size ==
      groupCols.size + measureCols.size,
      s"group/measure overlap or duplicates in $groupCols / $measureCols")
    require(derivedGroups.forall(d => groupCols.contains(d._1)),
      s"derived names ${derivedGroups.map(_._1)} must appear in $groupCols")
    // a stale registration for this base must not satisfy the build scan
    unregister(basePath)
    val d = MvDef(basePath, groupCols, measureCols, summaryPath, derivedGroups)
    StarMv.put(d, schema = Some(
      StarMv.materialize(spark, d.asStar, overrides(d, base))))
    d
  }

  private def overrides(d: MvDef,
      base: Option[DataFrame]): Map[String, DataFrame] =
    base.map(normalize(d.basePath) -> _).toMap

  /** Hook [[MvRewriteRule]] into an existing session (idempotent). */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.exists(_ eq MvRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewriteRule
  }

  /** INCREMENTAL refresh for an insert-only delta: fold the delta's
    * partials into the existing summary without rescanning the base and
    * swap the registration to the next versioned path — the maintenance
    * the reference's users get from `REFRESH MATERIALIZED VIEW` after each
    * merge interval, at the cost of one scan OF THE DELTA plus a
    * groups-sized merge. The delta must carry the MV's group and measure
    * columns. Under deletes use [[refreshDelta]].
    */
  def refresh(spark: SparkSession, basePath: String, delta: DataFrame): MvDef =
    refreshDelta(spark, basePath, delta, delta.limit(0))

  /** INCREMENTAL refresh for a general CDC batch: `inserts` appended to the
    * base and `deletes` removed from it (both carrying the MV's group and
    * measure columns; a delete row must restate the deleted row's values —
    * the CDC delete image). Call AFTER the batch has landed in the base:
    * the min/max repair scan reads the CURRENT base — `base`, when given
    * (a store's post-batch snapshot), else the registered `basePath`.
    * The algebra, its cost and its crash posture are
    * [[StarMv.refreshTableDelta]]'s; the registered MV moves to the next
    * summary generation only once it is written.
    */
  def refreshDelta(spark: SparkSession, basePath: String, inserts: DataFrame,
      deletes: DataFrame, recomputeKeyCap: Int = 1000,
      base: Option[DataFrame] = None): MvDef = {
    val d = lookup(normalize(basePath)).getOrElse(
      throw new IllegalArgumentException(s"no MV registered for $basePath"))
    val contents = overrides(d, base)
    d.withSummary(StarMv.refresh(spark, d, Seq((d.basePath, inserts, deletes)),
      contents, contents, recomputeKeyCap).summaryPath)
  }

  /** Apply a row-valued change feed (the
    * [[graft.operators.SnapshotDiff.changeFeed]] schema: base columns +
    * `_change` ∈ insert / delete / update_pre / update_post) as ONE
    * incremental refresh — the CDC→summary loop over a versioned store:
    * merge the micro-batch, read
    * [[graft.sources.ParquetTableStore.changeFeedBetween]] across the
    * merge's version step, hand it here with the post-batch snapshot as
    * `base`.
    */
  def refreshFromFeed(spark: SparkSession, basePath: String, feed: DataFrame,
      recomputeKeyCap: Int = 1000, base: Option[DataFrame] = None): MvDef =
    StarMv.splitFeeds(Seq(basePath -> feed)) { case Seq((_, ins, del)) =>
      refreshDelta(spark, basePath, ins, del, recomputeKeyCap, base) }
}

/** The MV serving rule: every Aggregate goes through the one matcher,
  * [[StarMv.tryRewrite]], over the one MV registry.
  */
object MvRewriteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (StarMv.isEmpty ||
      !conf.getConfString("spark.graft.mv.enabled", "true").toBoolean) plan
    else plan.transformUp {
      case agg: Aggregate => StarMv.tryRewrite(agg).getOrElse(agg)
    }
}
