package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Size-based cost model for MV serving — what decides WHICH registered
  * summary serves a query when several can, and whether serving is worth
  * it at all. A summary accelerates a rollup exactly when re-aggregating
  * its rows beats scanning the base; a summary grouped by a near-unique
  * key is as big as the base and serving it is pure overhead, so the
  * rewrite refuses and falls back (correct either way — this is a cost
  * choice, never a correctness one).
  *
  * Two size tiers per side: ROW COUNTS and ON-DISK BYTES (summed file
  * lengths off the same dir listing the footer probe does — free). A
  * summary serves only when it is smaller in EVERY tier where both sides
  * are known, because each tier catches what the other misses: row counts
  * mislead when widths diverge (a 40-column summary can have fewer rows
  * than a 2-column base scan yet read more data — the q220 sub-join
  * shape), and bytes mislead when compression diverges (a row-tied
  * summary that merely compresses better still re-aggregates no fewer
  * tuples). The byte tier engages only for summaries ≥ 1 MiB (below
  * that, per-file container overhead IS the byte count — see [[serves]]).
  * A refusal can cost a reroute but never correctness.
  *
  * Size sources, in priority order per table/summary:
  *
  *  1. REGISTERED stats — a maintainer (or the deployment's ANALYZE
  *     scheduler) publishes the row count it already knows, e.g. from
  *     [[graft.sources.ParquetTableStore.analyze]]'s version-stamped
  *     `_stats_v<seq>` records. Bounded driver state, no IO at plan time.
  *  2. PARQUET FOOTER counts — exact, read once and cached by the exact
  *     sorted root set (store data dirs are immutable; a refreshed
  *     summary gets a NEW path; a PLAIN single-root base that can be
  *     overwritten in place gets the root's mtime folded into its cache
  *     key, so an in-place rewrite re-probes instead of serving a stale
  *     count). Footer opens are capped at [[footerFileCap]] files: a
  *     100 TB base has ~10⁵ files and footer counting on the driver at
  *     plan time would be a scan in disguise — byte totals still come
  *     back (they ride the dir listing, no footer opens), rows do not.
  *  3. UNKNOWN — no registered stats and nothing probed. Serving
  *     proceeds (at that scale a groups-sized summary is almost always
  *     the win) and candidate ordering falls back to registration order.
  */
object MvCost {

  /** Footer-count at most this many files per root set at plan time. */
  private val footerFileCap = 512

  /** One side's size estimate; either field may be unknown. */
  private[plans] final case class SizeEst(rows: Option[Long],
      bytes: Option[Long]) {
    def +(o: SizeEst): SizeEst = SizeEst(
      for (a <- rows; b <- o.rows) yield a + b,
      for (a <- bytes; b <- o.bytes) yield a + b)
  }
  private[plans] val unknownSize = SizeEst(None, None)

  /** table/summary KEY (normalized path) → registered size. */
  private val registered = new ConcurrentHashMap[String, SizeEst]()

  /** sorted-root-set fingerprint (single plain roots carry an "@mtime"
    * suffix — see the header) → probed size. A fully-unknown entry is
    * cached too, so a nonexistent or unreadable path is probed once per
    * registration, not per query. Capped: a long-lived session's stores
    * change their dir set EVERY merge, so per-version fingerprints would
    * otherwise accumulate without bound — a full reset past the cap just
    * re-counts the live sets once.
    */
  private val footerCache = new ConcurrentHashMap[String, SizeEst]()
  private val footerCacheCap = 4096

  /** Publish a known row count for a table key or summary path —
    * maintainers call this with store-ANALYZE results so plan-time cost
    * never touches the filesystem for those tables. Byte size rides along
    * when the caller knows it.
    */
  def registerRowCount(path: String, rows: Long,
      bytes: Option[Long] = None): Unit = {
    registered.put(MaterializedView.normalize(path),
      SizeEst(Some(rows), bytes)); ()
  }

  def unregisterRowCount(path: String): Unit = {
    registered.remove(MaterializedView.normalize(path)); ()
  }

  /** table key → per-column NDV estimates (lowercased names), published
    * next to row counts by maintainers from store-ANALYZE records
    * ([[graft.sources.ColumnStats.ndvEst]], the HLL pass). Feeds
    * [[MvAdvisor]]'s stats-first estimation tier: a group key's distinct
    * count is bounded by the product of its columns' NDVs, so an advise()
    * over stats-covered tables prices candidates with NO data touch.
    */
  private val registeredNdv =
    new ConcurrentHashMap[String, Map[String, Long]]()

  def registerColumnNdv(path: String, ndv: Map[String, Long]): Unit = {
    registeredNdv.put(MaterializedView.normalize(path),
      ndv.map { case (c, v) => c.toLowerCase(java.util.Locale.ROOT) -> v })
    ()
  }

  def unregisterColumnNdv(path: String): Unit = {
    registeredNdv.remove(MaterializedView.normalize(path)); ()
  }

  private[plans] def columnNdv(path: String, column: String): Option[Long] =
    Option(registeredNdv.get(MaterializedView.normalize(path)))
      .flatMap(_.get(column.toLowerCase(java.util.Locale.ROOT)))

  private[plans] def clear(): Unit = {
    registered.clear(); footerCache.clear(); registeredNdv.clear()
  }

  /** Size under `path` (a summary dir or a table key): registered size,
    * else cached footer probe.
    */
  private[plans] def sizeOf(spark: SparkSession, path: String): SizeEst = {
    val key = MaterializedView.normalize(path)
    Option(registered.get(key)).getOrElse(footerSize(spark, Seq(key)))
  }

  /** Size of one query LEAF: registered stats under its table key first
    * (the key need not be a physical path — store-backed tables register
    * pure keys), else footer probe over its actual scan roots.
    */
  private[plans] def leafSize(spark: SparkSession, key: String,
      scanRoots: Seq[String]): SizeEst =
    Option(registered.get(MaterializedView.normalize(key)))
      .getOrElse(if (scanRoots.isEmpty) unknownSize
        else footerSize(spark, scanRoots))

  /** Probed size across `roots` (each a dir or file), cached by the
    * sorted root-set fingerprint. Rows unknown when the set exceeds
    * [[footerFileCap]] files or any footer is unreadable; bytes ride the
    * dir listing and survive the footer cap.
    */
  private[plans] def footerSize(spark: SparkSession,
      roots: Seq[String]): SizeEst = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = roots.map(MaterializedView.normalize).sorted.mkString("\u0000")
    def listRoot(r: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val p = new Path(r)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq.empty
      else {
        val st = fs.getFileStatus(p)
        if (st.isFile) Seq(st)
        else fs.listStatus(p).toSeq.filter(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet"))
      }
    }
    // a multi-root set is a store's immutable data dirs; a single plain
    // root can be overwritten in place, so its freshness joins the key.
    // mtime ALONE is only as fresh as the filesystem's timestamp tick
    // (1 s on ext3/HFS+; some object stores report 0) — an in-place
    // overwrite within one tick would serve the stale count — so the
    // file count and summed lengths fold in too; they ride the same
    // listing the probe needs anyway, which is reused on a miss.
    val (key, preListed) =
      if (roots.size != 1) (base, None)
      else try {
        val p = new Path(roots.head)
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) (base, None)
        else {
          val mtime = fs.getFileStatus(p).getModificationTime
          val files = listRoot(roots.head)
          (s"$base\u0000@$mtime:${files.size}:${files.map(_.getLen).sum}",
            Some(files))
        }
      } catch { case scala.util.control.NonFatal(_) => (base, None) }
    val cached = footerCache.get(key)
    if (cached != null) return cached
    val probed: SizeEst = try {
      val files = preListed.getOrElse(roots.flatMap(listRoot))
      if (files.isEmpty) unknownSize
      else {
        val bytes = Some(files.map(_.getLen).sum)
        val rows =
          if (files.size > footerFileCap) None
          else Some(files.map { st =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(st, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum)
        SizeEst(rows, bytes)
      }
    } catch { case scala.util.control.NonFatal(_) => unknownSize }
    if (footerCache.size >= footerCacheCap) footerCache.clear()
    footerCache.put(key, probed)
    probed
  }

  /** Evict a (re)written or retired summary path from the caches — a
    * refresh moves to a new versioned path, so the old one's sizes would
    * otherwise pile up ([[StarMv.put]] evicts both). Also drops the
    * path's mtime-suffixed footer entries.
    */
  private[plans] def evict(path: String): Unit = {
    val key = MaterializedView.normalize(path)
    registered.remove(key)
    footerCache.keySet.removeIf(k => k == key || k.startsWith(key + "\u0000@"))
    ()
  }

  /** Order candidates cheapest-summary-first and drop those provably
    * NOT worth serving ([[serves]]). When every kept candidate has a byte
    * size the order is by bytes; otherwise by rows; unknowns keep
    * registration order (sorted last) and always serve.
    */
  private[plans] def orderAndGate(spark: SparkSession,
      cands: Seq[StarMv.Entry], baseSize: SizeEst): Seq[StarMv.Entry] = {
    val withSize = cands.map(e => e -> sizeOf(spark, e.summaryPath))
    val kept = withSize.filter { case (_, s) => serves(s, baseSize) }
    val byBytes = kept.forall(_._2.bytes.isDefined)
    kept.sortBy { case (_, s) =>
      (if (byBytes) s.bytes else s.rows).getOrElse(Long.MaxValue)
    }.map(_._1)
  }

  /** Serve iff the summary is SMALLER than the base scan in EVERY tier
    * where both sides are known — rows AND bytes must each win when
    * comparable; a tier with either side unknown abstains (never penalize
    * missing stats; no tier known at all serves). Requiring every known
    * tier keeps the gate conservative both ways: a row-tied summary that
    * merely compresses better still refuses (re-aggregating it reads no
    * fewer tuples), and a row-smaller but byte-larger summary refuses
    * too (the q220 wide-summary shape). An EMPTY base serves (0 ≥ 0 is
    * "not smaller", but there is nothing to save and refusing would just
    * shift which empty scan runs).
    */
  private def serves(summary: SizeEst, base: SizeEst): Boolean = {
    def tier(s: Option[Long], b: Option[Long]): Boolean = (s, b) match {
      case (Some(sv), Some(bv)) => sv < bv || bv == 0L
      case _ => true
    }
    // the byte tier abstains for sub-MiB summaries: at that size the
    // per-file parquet container overhead dominates the payload (a
    // partials-wide 10-row summary "outweighs" a 3-row base without being
    // any more expensive to read), so bytes carry no cost signal — only a
    // summary big enough for width to matter can lose the byte tier
    val byteTier = summary.bytes.forall(_ < minByteSignal) ||
      tier(summary.bytes, base.bytes)
    tier(summary.rows, base.rows) && byteTier
  }

  /** Byte-tier engagement floor — see [[serves]]. */
  private val minByteSignal = 1L << 20
}
