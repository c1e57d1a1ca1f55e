package graft.plans

import graft.operators.CompactedBatch
import graft.plans.StarMv.StarMvDef
import graft.sources.JdbcTableStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Durable star-MV maintenance over JDBC-SYNCED tables — the accelerator
  * a Greenplum-parity user on the warehouse sink was missing: the
  * warehouse retains no version history to replay (no manifests, no
  * `snapshotAt`), so the change feed is reconstructed PER BATCH from a
  * keyed pre-image read plus the compacted batch itself, and multi-table
  * version pinning falls out of the APPLY ORDER instead of retained
  * versions:
  *
  *   per table, in definition order: STAGE the feed (pre-image read of
  *   the batch's keys vs the batch's upserts — captured and made durable
  *   BEFORE the merge, because the pre-state is unrecoverable after) →
  *   MERGE the table → REFRESH the summary from the staged feed. At
  *   refresh time the already-processed tables are physically at their
  *   NEW state and the pending ones at their OLD state — exactly the
  *   Δ₁⋈T₂ + T₁″⋈Δ₂ sequencing [[StarMvMaintainer]] gets from
  *   `snapshotAt` pinning.
  *
  * Durability: the maintainer DRIVES the merges (that is what makes the
  * sequencing enforceable — single writer per the stores' own contract).
  * Progress is committed per table with one atomic state rename AFTER
  * each refresh; staged feeds live under `root/feeds/<batchId>/` with
  * parquet's `_SUCCESS` as their commit marker. Crash anywhere →
  * replaying `sync` with the SAME batchId resumes: staged feeds are
  * reused (never recaptured after a merge may have happened), re-merges
  * are idempotent (per-key delete+insert), and a refresh that died before
  * its state commit re-runs from the same committed summary path and
  * OVERWRITES the orphan next-version dir — the [[MvMaintainer]] replay
  * contract. A fully-completed batch replayed re-applies the idempotent
  * merges only (the signed refresh must never run twice).
  *
  * Why this sequencing is its own and not [[StarMvMaintainer]]'s
  * `syncTo`: that loop reads each table's feed from retained versions
  * and pins every other table with `snapshotAt`, AFTER the merges. A
  * warehouse table has no versions to pin or to diff, so the feed must
  * be captured before its merge and the pinning must come from doing the
  * merges one table at a time. Everything else is shared: the one MV
  * registry, the ownership-checked refresh, and the state-file layer
  * ([[StarMvMaintainer.readState]]/[[StarMvMaintainer.writeState]]/
  * [[StarMvMaintainer.storesByKey]]), whose file carries this
  * maintainer's batch progress (`lastCompleted`, `inProgress`, `done`,
  * `completedSummary`) as its own lines.
  *
  * Serving: the definition's table keys are
  * [[JdbcTableStore.servingKey]]s, which [[StarMv]]'s leaf matcher
  * resolves from live `snapshot()` scans — so warehouse rollups reroute
  * to the summary. A JDBC leaf has no snapshot identity to guard
  * freshness structurally (no dir set), so serving is PAUSED for the span
  * of every sync (and across a crash, until the resumed sync completes):
  * queries then run the live join — reference-parity per-table
  * consistency — and never read a summary that is mid-sequence.
  *
  * Scale per sync and per table: one keyed warehouse read (server-side IN
  * pushdown for micro-batches; a staged-key `WHERE EXISTS` semi join
  * inside the warehouse for large batches — never a full table pull), one
  * feed-sized diff join, the store's own
  * O(batch) merge, and the feed-sized star refresh with broadcast
  * dimension sides. `derivedMeasures`/`derivedGroups` need their form
  * analysis to read real paths and therefore refuse here (the JDBC keys
  * are identities, not paths).
  */
final class JdbcStarMaintainer private (
    spark: SparkSession,
    stores: Map[String, JdbcTableStore],
    root: String,
    // @volatile: attachMetrics' freshness probe reads these from the
    // metrics server thread while sync() mutates them under `synchronized`
    @volatile private var d: StarMvDef,
    @volatile private var lastCompleted: Long,
    @volatile private var inProgress: Option[Long],
    private var done: Set[String],
    // the summary path as of the last COMPLETED batch — the gc anchor: a
    // resumed sync's in-memory d is mid-batch, and counting retained
    // generations from it would delete the last committed summary a
    // planned reader may still be evaluating
    private var completedSummary: String) {

  import JdbcStarMaintainer._

  /** The current definition (summary path advances per refresh). */
  def definition: StarMvDef = d

  /** The newest fully-applied batch id; −1 before the first sync. */
  def lastCompletedBatch: Long = lastCompleted

  /** Surface batch progress in the state endpoint (`mv_freshness`) — the
    * JDBC twin of [[StarMvMaintainer.attachMetrics]]. With no store
    * versions to diff, the probe reports (last completed, in-progress)
    * batch ids: lag 0 when idle, lag > 0 exactly while a batch is
    * mid-sequence — the window serving is paused — so a summary STUCK at
    * lag > 0 is the alarm for an abandoned batch.
    */
  def attachMetrics(metrics: graft.obs.PipelineMetrics): Unit = {
    val name = StarMv.summaryBase(d.summaryPath)
    metrics.registerMvFreshness(name, () =>
      Map("batch" -> (lastCompleted, inProgress.getOrElse(lastCompleted))))
  }

  private val tables = d.tables.map(MaterializedView.normalize)

  /** Apply one micro-batch across the star's tables: sequence
    * stage-feed → merge → refresh per table in definition order, commit
    * progress per table, resume idempotently when replayed after a
    * crash. `batchId` must be strictly increasing across batches (a
    * stream's micro-batch id); tables absent from `batches` are
    * untouched. Returns the refreshed definition.
    */
  def sync(batchId: Long, batches: Map[String, CompactedBatch],
      recomputeKeyCap: Int = 1000, keepSummaries: Int = 2): StarMvDef =
    synchronized {
      val byKey = batches.map { case (p, b) =>
        MaterializedView.normalize(p) -> b }
      byKey.keys.foreach(p => require(tables.contains(p),
        s"$p is not one of the MV's tables (${tables.sorted})"))
      if (batchId == lastCompleted) {
        // crash-replay of the JUST-completed batch (stream died between
        // maintainer completion and its checkpoint commit): the summary
        // already reflects it — re-apply the idempotent merges only,
        // never the signed refresh. Resume serving too: if the original
        // run died AFTER its completion commit but before its own resume
        // (a gc failure), the pause would otherwise outlive the batch
        // with no later path ever clearing it.
        tables.foreach(p => byKey.get(p).foreach(stores(p).merge))
        StarMv.resumeServing(d.summaryPath)
        return d
      }
      // an OLDER batch is not a crash-replay — it is a consumer restarted
      // from a stale checkpoint; re-merging it would rewind the warehouse
      // under a summary that has moved on (the next feed's pre-images
      // would subtract contributions the summary never held)
      require(batchId > lastCompleted,
        s"batch $batchId precedes the last completed batch $lastCompleted " +
          "— the consumer replayed past its own history; re-baseline it")
      require(inProgress.forall(_ == batchId),
        s"batch $batchId arrived while batch ${inProgress.get} is " +
          "incomplete — replay the incomplete batch to completion first")
      StarMv.pauseServing(d.summaryPath)
      if (inProgress.isEmpty) {
        inProgress = Some(batchId); done = Set.empty
        writeState()
      }
      val keepBase = completedSummary // gc anchor: last COMPLETED summary
      tables.foreach { p =>
        byKey.get(p).foreach { batch =>
          if (!done.contains(p)) {
            val feedDir = feedPath(batchId, p)
            if (!committed(feedDir)) {
              // capture BEFORE the merge and make it durable: after the
              // merge the pre-images are gone from the warehouse
              stageFeed(stores(p), batch, feedDir)
            }
            stores(p).merge(batch)
            val overrides = tables.map(q => q -> canonical(stores(q))).toMap
            val nd = StarMv.refreshTableFromFeed(spark, d, p,
              spark.read.parquet(feedDir.toString), recomputeKeyCap,
              overrides)
            // progress commit; a TRANSIENT failure here must restore the
            // committed registration, or an in-process retry would
            // re-apply the feed on the already-refreshed summary —
            // double-applying the signed partials (the StarMvMaintainer
            // crash-window contract)
            try {
              done += p
              JdbcStarMaintainer.writeState(spark, root, nd, lastCompleted,
                inProgress, done, completedSummary)
            } catch {
              case t: Throwable =>
                done -= p
                StarMv.put(d, retired = Some(nd.summaryPath))
                throw t
            }
            d = nd
          }
        }
      }
      // completion: one atomic state commit, then gc (staged feeds +
      // summary generations past keepSummaries, counted from the last
      // completed summary so a reader planned against it keeps evaluating)
      lastCompleted = batchId
      inProgress = None
      done = Set.empty
      completedSummary = d.summaryPath
      writeState()
      // resume BEFORE the gc: the batch is durably complete, so a gc
      // failure below must not leave serving paused forever (the replay
      // of this batchId takes the fast path, which also resumes)
      StarMv.resumeServing(d.summaryPath)
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(new Path(root), s"feeds/$batchId"), true)
      MvMaintainer.olderSummaries(keepBase, (keepSummaries - 1).max(1))
        .foreach(s => fs.delete(new Path(s), true))
      d
    }

  /** Build AND stage the feed parquet for one (batch, table) in a single
    * scope, so the cached inputs release right after the write: the key
    * set feeds the keyed readback's count probe + IN-value collect (or
    * stage write) + semi join, and the upserts feed both the key union
    * and the post slice — without the cache a non-trivial upstream batch
    * plan (the streaming CDC shape) would re-execute four-plus times. The
    * feed itself is the pre-image slice diffed against the upserts
    * ([[graft.operators.SnapshotDiff.changeFeed]]): a key only in the pre
    * slice is a delete with its full image, a changed key emits both
    * images, a new key an insert, a byte-identical upsert nothing —
    * restricting both sides to the batch's keys makes the post slice
    * exactly the upserts (per-key final action is the CompactedBatch
    * contract).
    *
    * The pre-image read is [[JdbcTableStore.withSnapshotForKeys]] — the
    * scoped form whose large-batch path stages the key set INTO the
    * warehouse and reads back `WHERE EXISTS` server-side, so this stays
    * O(batch) per table per sync at any batch size (the lazy
    * `snapshotForKeys` would degrade to a full warehouse-table pull past
    * its IN limit). The parquet write inside the scope is the eager
    * consumption the scoped contract requires.
    */
  private def stageFeed(store: JdbcTableStore, batch: CompactedBatch,
      feedDir: Path): Unit = {
    val pk = store.spec.pkCols
    val ups = batch.upserts.select(store.spec.dataCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = batch.deletes.select(pk.map(col): _*)
      .unionByName(ups.select(pk.map(col): _*)).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      store.withSnapshotForKeys(keys) { preRaw =>
        val pre = canonicalize(preRaw, store)
        graft.operators.SnapshotDiff.changeFeed(pre, ups, pk)
          .write.mode("overwrite").parquet(feedDir.toString)
      }
    } finally {
      keys.unpersist(blocking = false)
      ups.unpersist(blocking = false)
      ()
    }
  }

  /** The warehouse surfaces ITS catalog's case folding (Derby/Greenplum
    * upper/lower); rename back to the spec's canonical casing so feeds,
    * deltas, and summary partials line up column-for-column.
    */
  private def canonicalize(df: DataFrame, store: JdbcTableStore): DataFrame =
    df.select(store.spec.dataCols.map(c => col(c).as(c)): _*)

  private def canonical(store: JdbcTableStore): DataFrame =
    canonicalize(store.snapshot(), store)

  private def feedPath(batchId: Long, table: String): Path =
    new Path(new Path(root),
      s"feeds/$batchId/${MvCatalog.enc(table)}")

  private def committed(dir: Path): Boolean = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(dir, "_SUCCESS"))
  }

  private def writeState(): Unit =
    JdbcStarMaintainer.writeState(spark, root, d, lastCompleted,
      inProgress, done, completedSummary)
}

object JdbcStarMaintainer {

  /** Start maintaining `d` (already built via [[StarMv.build]] with
    * `tableOverrides` over the stores' CURRENT snapshots — its summary
    * reflects the warehouse now). `stores` is keyed by the definition's
    * table keys ([[JdbcTableStore.servingKey]]s).
    */
  def create(spark: SparkSession, stores: Map[String, JdbcTableStore],
      d: StarMvDef, root: String): JdbcStarMaintainer = {
    require(d.derivedMeasures.isEmpty && d.derivedGroups.isEmpty,
      "derived measures/groups need readable table paths for form " +
        "analysis — not available for JDBC identities")
    val byKey = StarMvMaintainer.storesByKey(stores, d)
    // a rebuilt maintainer over the same summary path must not inherit a
    // dead predecessor's pause (its state file is being overwritten too)
    StarMv.resumeServing(d.summaryPath)
    StarMv.register(d)
    writeState(spark, root, d, lastCompleted = -1L, None, Set.empty,
      d.summaryPath)
    new JdbcStarMaintainer(spark, byKey, root, d, -1L, None, Set.empty,
      d.summaryPath)
  }

  /** Resume from the state directory after a restart: re-registers the
    * recorded definition and — when a batch was mid-sequence — keeps
    * serving PAUSED until that batch is replayed to completion.
    */
  def open(spark: SparkSession, stores: Map[String, JdbcTableStore],
      root: String): JdbcStarMaintainer = {
    val (rec, kv) = StarMvMaintainer.readState(spark, statePath(root))
    val d = rec.asStar
    val byKey = StarMvMaintainer.storesByKey(stores, d)
    val lastCompleted = kv("lastCompleted").toLong
    val inProgress = kv.get("inProgress").filter(_.nonEmpty).map(_.toLong)
    val done = kv.get("done").filter(_.nonEmpty)
      .map(_.split(",", -1).toSeq.map(MvCatalog.dec).toSet)
      .getOrElse(Set.empty[String])
    val completedSummary = kv.get("completedSummary")
      .map(MvCatalog.dec).getOrElse(d.summaryPath)
    StarMv.register(d)
    if (inProgress.isDefined) StarMv.pauseServing(d.summaryPath)
    new JdbcStarMaintainer(spark, byKey, root, d, lastCompleted,
      inProgress, done, completedSummary)
  }

  private def statePath(root: String): String =
    new Path(new Path(root), "_state").toString

  /** The shared state file ([[StarMvMaintainer.writeState]]) with this
    * maintainer's batch progress as its own lines.
    */
  private def writeState(spark: SparkSession, root: String, d: StarMvDef,
      lastCompleted: Long, inProgress: Option[Long],
      done: Set[String], completedSummary: String): Unit =
    StarMvMaintainer.writeState(spark, statePath(root), d, Seq(
      "lastCompleted" -> lastCompleted.toString,
      "inProgress" -> inProgress.map(_.toString).getOrElse(""),
      "done" -> done.toSeq.sorted.map(MvCatalog.enc).mkString(","),
      "completedSummary" -> MvCatalog.enc(completedSummary)))
}
