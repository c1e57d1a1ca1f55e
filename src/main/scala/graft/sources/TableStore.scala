package graft.sources

import graft.model.TableSpec
import graft.operators.CompactedBatch
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A continuously merge-able, queryable table — the role Greenplum plays for
  * the reference. The reference applies each compacted batch as
  * `DELETE … WHERE EXISTS (keys)` + bulk `COPY` in one transaction
  * (operators L1/L2/L4, reference: ChangeLoader.java:211-344); here the same
  * semantics are an anti-join plus union over a primary-key-bucketed Parquet
  * layout with a snapshot-manifest commit.
  */
trait TableStore {
  def spec: TableSpec
  def snapshot(): DataFrame
  def merge(batch: CompactedBatch): Unit
}

/** The versioned-store surface everything above the store layer programs
  * against — [[graft.sources.SnapshotCatalog]] boundaries,
  * [[graft.plans.MvMaintainer]] / [[graft.plans.StarMvMaintainer]] summary
  * maintenance. Both bucketed stores implement it with their native
  * version notion: the CoW store's version is a retained `_v<seq>`
  * manifest; the MOR store's is a delta `_seq` (its stacks ARE the
  * history, so every seq back to the compaction floor is readable).
  * Versions are opaque, monotonically increasing longs — comparable
  * within one store, never across stores.
  */
trait VersionedTableStore extends TableStore {

  /** Newest committed version. Fails loudly on an uninitialized store. */
  def currentVersion: Long

  /** Versions currently readable via [[snapshotAt]], ascending. */
  def history(): Seq[Long]

  /** The table exactly as committed at `version` (one of [[history]]);
    * fails loudly when the version aged out of the store's retention.
    */
  def snapshotAt(version: Long): DataFrame

  /** Absolute data-dir paths a [[snapshotAt]] of `version` scans — what a
    * maintainer registers for exact dir-set MV serving
    * ([[graft.plans.MaterializedView.registerDirs]]). Bounded by the
    * store's bucket count (times the stack depth for MOR).
    */
  def dataDirsAt(version: Long): Seq[String]

  /** The subset of [[dataDirsAt]] belonging to STACKED (multi-dir) MOR
    * buckets at `version` — dirs whose rows still carry unresolved
    * duplicate key versions until the newest-wins Window runs. Maintainers
    * pass this through [[graft.plans.MaterializedView.registerDirs]] so
    * snapshot serving can refuse a raw (window-less) scan of stacked dirs
    * masquerading as the resolved table. Empty for copy-on-write stores.
    */
  def stackedDirsAt(version: Long): Seq[String] = Nil

  /** Row-valued change feed between two readable versions: full pre/post
    * images tagged `_change` ∈ insert / delete / update_pre / update_post
    * ([[graft.operators.SnapshotDiff.changeFeed]]) — the incremental read
    * a downstream summary/replica applies without rescanning the table.
    */
  def changeFeedBetween(fromVersion: Long, toVersion: Long): DataFrame

  /** How many committed versions stay readable behind the head — the
    * guarantee [[SnapshotCatalog]] needs ≥ 2 of (readers resolve the
    * previous boundary while a batch is in flight).
    */
  def versionWindow: Int

  /** Compute per-column statistics of the CURRENT version and persist
    * them version-stamped — see [[TableStatsIO.compute]] for the scan
    * shape. Deliberately NOT run at merge commit: a merge is O(batch) by
    * contract, stats are O(table); the version stamp keeps the two honest
    * ([[stats]] reports exactly how many commits the record is behind).
    */
  def analyze(): TableStats

  /** The newest persisted stats with their staleness against the current
    * version; None before the first [[analyze]]. Bounded driver work.
    */
  def stats(): Option[TableStats]
}

/** One column's stats as computed by [[VersionedTableStore.analyze]];
  * min/max ride STRING renderings (None for all-null columns) —
  * optimizer-statistics artifacts, not oracle-compared values.
  *
  * `histogramBounds`: equi-depth inner decile boundaries (9 values,
  * numeric columns only, empty otherwise / for pre-histogram records) —
  * each of the 10 buckets between min, b1..b9, max holds ~10% of the
  * non-null rows. Feeds [[selectivityPpm]].
  */
final case class ColumnStats(name: String, nNonNull: Long, ndvEst: Long,
    minStr: Option[String], maxStr: Option[String],
    histogramBounds: Seq[Double] = Nil) {

  /** Estimated fraction (ppm) of non-null rows with value in [lo, hi] —
    * equi-depth interpolation: full buckets inside the range count their
    * whole 10% mass, boundary buckets contribute linearly. None when no
    * histogram exists or min/max aren't numeric. The uniform-within-
    * bucket assumption is exactly what equi-depth makes safe: no bucket
    * hides more than 10% of the mass, so the estimate is within ±1
    * bucket (±100000 ppm) of truth regardless of skew.
    */
  def selectivityPpm(lo: Double, hi: Double): Option[Long] = {
    def num(s: Option[String]): Option[Double] =
      s.flatMap(v => scala.util.Try(v.toDouble).toOption)
    for {
      mn <- num(minStr); mx <- num(maxStr)
      if histogramBounds.nonEmpty && hi >= lo
    } yield {
      val bounds = (mn +: histogramBounds :+ mx).toArray
      val perBucket = 1000000.0 / (bounds.length - 1)
      var ppm = 0.0
      var i = 0
      while (i < bounds.length - 1) {
        val (bl, bh) = (bounds(i), bounds(i + 1))
        val ol = math.max(bl, lo)
        val oh = math.min(bh, hi)
        if (oh > ol) ppm += perBucket * (oh - ol) / math.max(bh - bl, Double.MinPositiveValue)
        else if (bl == bh && lo <= bl && bl <= hi) ppm += perBucket // zero-width: whole mass inside
        i += 1
      }
      math.min(1000000L, math.max(0L, math.round(ppm)))
    }
  }
}

/** A persisted stats record plus how stale it is: `staleBy` = versions
  * committed since the stats were computed (0 = fresh). The stats
  * describe the snapshot of `version` EXACTLY — a reader needing current
  * stats re-runs analyze when the bound is too loose. `bytes` = the
  * version's on-disk data size (summed file lengths — a dir listing at
  * analyze time, no data read); None when parsed from a pre-bytes
  * record. Feeds [[graft.plans.MvCost]]'s byte tier through the
  * maintainers' stat publication.
  */
final case class TableStats(version: Long, nRows: Long,
    columns: Seq[ColumnStats], staleBy: Long, bytes: Option[Long] = None)

/** The ANALYZE computation + `_stats_v<seq>` file codec both stores
  * share. Two single scans: one wide aggregate for counts + typed
  * min/max, one stacked HLL pass for NDV (the q202 shape generalized to
  * the spec's columns). Cost at 100 TB: two column-pruned scans with
  * constant-size outputs.
  */
private[sources] object TableStatsIO {

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  def compute(snap: DataFrame, cols: Seq[String]): (Long, Seq[ColumnStats]) = {
    import org.apache.spark.sql.types.NumericType
    val numeric = snap.schema.fields
      .filter(f => f.dataType.isInstanceOf[NumericType]).map(_.name).toSet
    val wide = snap.agg(
      count(lit(1)).as("n_rows"),
      cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c")) ++
        // equi-depth deciles ride the SAME single aggregate pass —
        // numeric columns only (the selectivity consumer interpolates)
        (if (numeric(c))
          Seq(percentile_approx(col(c).cast("double"),
            array((1 to 9).map(i => lit(i / 10.0)): _*), lit(10000))
            .as(s"hg_$c"))
        else Nil)): _*).head()
    val nRows = wide.getLong(0)
    val stacked = snap.select(explode(array(cols.map(c =>
      struct(lit(c).as("col_name"), col(c).cast("string").as("val"))): _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"), col("kv.val").as("val"))
      .where(col("val").isNotNull)
    val ndv = graft.operators.Sketches.hllDistinct(stacked, "col_name", "val")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var idx = 1
    val colStats = cols.map { c =>
      val base = idx
      idx += (if (numeric(c)) 4 else 3)
      val hist =
        if (numeric(c) && !wide.isNullAt(base + 3))
          wide.getSeq[Double](base + 3).toList
        else Nil
      ColumnStats(c, wide.getLong(base),
        ndv.getOrElse(c, 0L),
        Option(wide.getString(base + 1)), Option(wide.getString(base + 2)),
        hist)
    }
    (nRows, colStats)
  }

  def render(version: Long, nRows: Long, colStats: Seq[ColumnStats],
      bytes: Option[Long] = None): Array[Byte] =
    ((s"#version=$version\trows=$nRows" +
      bytes.map(b => s"\tbytes=$b").getOrElse("")) +: colStats.map(cs =>
      (Seq(enc(cs.name), cs.nNonNull, cs.ndvEst,
        cs.minStr.map(enc).getOrElse(" null"),
        cs.maxStr.map(enc).getOrElse(" null")) ++
        // optional 6th field: comma-joined equi-depth decile bounds —
        // absent entirely for non-numeric columns (old parsers never see it)
        (if (cs.histogramBounds.nonEmpty)
          Seq(cs.histogramBounds.map(d => java.lang.Double.toString(d))
            .mkString(","))
        else Nil)).mkString("\t")))
      .mkString("\n").getBytes("UTF-8")

  def parse(body: String, version: Long, staleBy: Long): TableStats = {
    val lines = body.split("\n").filter(_.nonEmpty)
    val head = lines.head.split("\t")
    val nRows = head(1).stripPrefix("rows=").toLong
    // optional third header field — absent in pre-bytes records
    val bytes = head.lift(2).filter(_.startsWith("bytes="))
      .map(_.stripPrefix("bytes=").toLong)
    val colStats = lines.tail.map { l =>
      val f = l.split("\t", -1)
      def opt(s: String) = if (s == " null") None else Some(dec(s))
      val hist = f.lift(5).filter(_.nonEmpty)
        .map(_.split(",").map(_.toDouble).toList).getOrElse(Nil)
      ColumnStats(dec(f(0)), f(1).toLong, f(2).toLong, opt(f(3)), opt(f(4)), hist)
    }.toSeq
    TableStats(version, nRows, colStats, staleBy, bytes)
  }

  /** Summed file lengths under the version's data dirs — one listing per
    * dir, no data read; the byte side of the stats record.
    */
  def dataBytes(conf: org.apache.hadoop.conf.Configuration,
      dirs: Seq[String]): Long =
    dirs.map { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    }.sum
}

/** Parquet-backed store, hash-bucketed by primary key, committed via an
  * atomic manifest pointer (the reference's single-transaction apply, L4).
  * Layout, manifest codec, staged writer, gc sweep and stats records are
  * the shared [[BucketedStore]] layer; this class is the copy-on-write
  * merge and read algebra on top of it, plus retained versions:
  * {{{
  *   root/<table>/_v<seq>            — retained version manifests (time travel)
  * }}}
  *
  * Time travel: every commit also records its manifest as `_v<seq>`; a
  * store constructed with `retainedVersions = k` protects the data dirs of
  * the newest k versions from gc, and [[snapshotAt]] reads any of them as
  * a consistent historical table (the lakehouse-format snapshot-isolation
  * surface). The default k = 1 keeps the original single-generation
  * storage footprint. Retention cost is bounded: only buckets REWRITTEN
  * between retained versions exist twice — untouched buckets are shared by
  * every manifest that references them.
  *
  * A merge only ever touches the buckets that contain a changed key:
  *
  *  1. compute the distinct affected bucket ids from the batch's keys (at
  *     most `numBuckets` values — safe to collect at any data scale);
  *  2. read ONLY those buckets' current directories (at 100 TB with
  *     well-spread keys a 50k-row batch touches a bounded subset of buckets,
  *     not the whole table);
  *  3. anti-join out every changed key (deletes AND upsert keys — the
  *     reference's delete-before-insert M6), union the upsert rows;
  *  4. write the rebuilt buckets as NEW immutable directories, then publish
  *     them with ONE atomic rename of the manifest pointer.
  *
  * Readers resolve the manifest first, so they see the entire batch or none
  * of it — there is no window where a bucket is missing or half-applied (the
  * round-1..3 torn-commit finding). A crash at any point leaves either the
  * old manifest (staged dirs become garbage, collected at the next merge) or
  * the new one (replaced dirs become garbage, ditto).
  *
  * Concurrency contract: single writer per table (the reference pins one
  * loader per table, ChangeLoader.java; Structured Streaming gives one
  * foreachBatch at a time), any number of readers. Reader retention: a
  * snapshot resolves the manifest when [[snapshot]] is CALLED, but evaluates
  * its bucket files lazily — replaced directories are therefore retained for
  * one manifest generation (deleted by the NEXT merge's gc, not by the merge
  * that replaced them), so a snapshot stays evaluable across one subsequent
  * merge. A reader that must outlive more than one merge should materialize
  * (collect/write/cache) before the second one commits.
  *
  * Deleting a key that was never present is a no-op via the anti-join (M7).
  *
  * A snapshot held across MORE than one merge fails lazily: its bucket files
  * are gc'd by the second merge, so evaluation throws FileNotFoundException
  * at action time rather than an explicit staleness error — readers should
  * treat that exception as "snapshot expired, re-resolve".
  *
  * `numBuckets` sizes the rewrite amplification: a cluster deployment of a
  * 100 TB table wants O(10⁴–10⁵) buckets so one micro-batch rewrites ≪1% of
  * the table; tests use small counts.
  *
  * `broadcastKeyLimit` guards the changed-key anti-join strategy: a streaming
  * micro-batch (bounded by `maxOffsetsPerTrigger`) broadcasts its key set,
  * but a bulk replay feeding millions of compacted keys through [[merge]]
  * must NOT be forced through a driver-side broadcast — above the limit the
  * hint is dropped and Catalyst plans a shuffled join (SMJ/shuffled-hash).
  */
final class ParquetTableStore(
    spark: SparkSession,
    root: String,
    val spec: TableSpec,
    numBuckets: Int = 64,
    broadcastKeyLimit: Long = 1000000L,
    inFilterLimit: Long = 1024L,
    val retainedVersions: Int = 1,
    clusterCols: Seq[String] = Nil)
  extends BucketedStore(spark, root, numBuckets) {
  def versionWindow: Int = retainedVersions
  require(retainedVersions >= 1,
    s"retainedVersions must be >= 1, got $retainedVersions")
  require(clusterCols.forall(spec.dataCols.contains),
    s"clusterCols ${clusterCols.filterNot(spec.dataCols.contains)} are not " +
      s"columns of ${spec.name} (${spec.dataCols})")

  protected def specRec = StoreSpecIO.Rec(
    kind = "cow", name = spec.name, schema = spec.schema,
    pk = spec.pkCols, buckets = numBuckets, retained = retainedVersions,
    cluster = clusterCols)

  // ── version manifests: _v<seq> files enabling time-travel reads ─────────

  private def versionPath(v: Long) = new Path(tablePath, s"_v$v")

  /** Committed versions currently on disk, ascending. With the default
    * `retainedVersions = 1` only the latest survives gc; a store opened
    * with a larger retention keeps that many, each readable via
    * [[snapshotAt]].
    */
  def history(): Seq[Long] =
    if (!fs.exists(tablePath)) Seq.empty
    else fs.listStatus(tablePath).map(_.getPath.getName)
      .filter(n => n.startsWith("_v") && n.drop(2).forall(_.isDigit))
      .map(_.drop(2).toLong).toSeq.sorted

  /** Newest committed version — what [[SnapshotCatalog.commit]] records
    * per table. Fails loudly on an uninitialized store (no commit yet).
    */
  def currentVersion: Long = history().lastOption.getOrElse(
    throw new IllegalStateException(
      s"table ${spec.name} has no committed version yet — init() first"))

  /** The manifest of a retained version; fails loudly when it aged out. */
  private def manifestOfVersion(v: Long): BucketedStore.Manifest = {
    val p = versionPath(v)
    require(fs.exists(p),
      s"table ${spec.name} has no retained version $v " +
        s"(retained: ${history().mkString(",")}) — raise retainedVersions " +
        "on the writing store to keep more history")
    readManifestAt(p)
  }

  /** Commit wall-clock of a retained version (epoch millis) as recorded
    * in its `_v` manifest header; None for versions committed before the
    * `#ts=` header existed.
    */
  def versionTimestamp(version: Long): Option[Long] =
    readManifestAt(versionPath(version)).headers.get("ts").map(_.toLong)

  /** Resolve `TIMESTAMP AS OF`: the newest RETAINED version whose commit
    * wall-clock is ≤ `tsMicros` (the DSv2 timestamp unit). Fails loudly
    * when the timestamp predates every retained commit (the version it
    * names aged out — or never existed) or when no retained version
    * carries a recorded clock (pre-feature store). Driver-side cost: one
    * tiny header read per retained version — bounded by the retention
    * count, never by data.
    */
  def versionAtTimestamp(tsMicros: Long): Long = {
    val stamped = history().flatMap(v => versionTimestamp(v).map(v -> _))
    require(stamped.nonEmpty,
      s"table ${spec.name} has no commit wall-clock records — " +
        "TIMESTAMP AS OF needs commits made after the #ts manifest header " +
        "was introduced; use VERSION AS OF")
    val hits = stamped.filter { case (_, ms) => ms * 1000L <= tsMicros }
    require(hits.nonEmpty,
      s"table ${spec.name}: no retained version committed at or before " +
        s"timestamp ${tsMicros}us (earliest retained: " +
        s"${stamped.head._2}ms) — the version aged out of retention or " +
        "the timestamp predates the table")
    hits.last._1
  }

  /** Time-travel read: the table exactly as committed at `version` (one of
    * [[history]]). Same lazy-evaluation contract as [[snapshot]] — the
    * manifest resolves now, files evaluate at action time; a version aged
    * out of retention by later merges fails the read loudly here.
    */
  def snapshotAt(version: Long): DataFrame =
    readDirs(manifestOfVersion(version).dirs.toSeq)

  /** Absolute data-dir paths the manifest of `version` references — the
    * exact scan roots a [[snapshotAt]] (or, for the current version,
    * [[snapshot]]) of that version reads. What
    * [[graft.plans.MvMaintainer]] registers so rollup queries over the
    * live snapshot reroute to its summary
    * ([[graft.plans.MaterializedView.registerDirs]]). Bounded by the
    * bucket count.
    */
  def dataDirsAt(version: Long): Seq[String] =
    absolute(manifestOfVersion(version).dirs)

  /** The two versions' data restricted to buckets whose manifest entry
    * CHANGED between them — the bucket-pruned inputs every version diff
    * reads. Untouched buckets are the same immutable dir in both
    * manifests and cannot contain a difference (a row can't change in
    * place, and a PK "move" rewrites both its buckets), so diff input is
    * proportional to the REWRITTEN buckets — i.e. to the merge batches
    * between the versions — not to the table. At 100 TB this is the
    * difference between reading two tables and reading two micro-batches'
    * worth of buckets.
    */
  private def changedBucketPair(fromVersion: Long,
      toVersion: Long): (DataFrame, DataFrame) = {
    require(fromVersion < toVersion,
      s"version diff needs fromVersion < toVersion, got $fromVersion >= $toVersion")
    val a = manifestOfVersion(fromVersion)
    val b = manifestOfVersion(toVersion)
    val changed = (a.stacks.keySet ++ b.stacks.keySet)
      .filter(k => a.stacks.get(k) != b.stacks.get(k))
    (readDirs(a.dirsOf(changed)), readDirs(b.dirsOf(changed)))
  }

  /** Change feed between two retained versions: every key added / removed /
    * changed from `fromVersion` to `toVersion`, classified per
    * [[graft.operators.SnapshotDiff.diff]] — the CDC-style incremental
    * read a downstream consumer uses to catch up without rescanning the
    * table. Scan input is bucket-pruned to the dirs that differ between
    * the two manifests ([[changedBucketPair]]); one full-outer shuffle
    * join on the key over those buckets; output proportional to the
    * delta. Both versions must still be inside the retention window.
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    val (before, after) = changedBucketPair(fromVersion, toVersion)
    graft.operators.SnapshotDiff.diff(before, after, spec.pkCols)
  }

  /** Row-valued change feed between two retained versions: full pre/post
    * images tagged `_change` ∈ insert / delete / update_pre / update_post
    * (see [[graft.operators.SnapshotDiff.changeFeed]]) — what an
    * incremental downstream consumer (a summary table via
    * [[graft.plans.MaterializedView.refreshFromFeed]], a replica, an
    * audit log) applies WITHOUT rescanning the table. Scan input is
    * bucket-pruned to the dirs that differ between the two manifests
    * ([[changedBucketPair]]); one full-outer shuffle join on the key over
    * those buckets; output proportional to the delta.
    */
  def changeFeedBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    val (before, after) = changedBucketPair(fromVersion, toVersion)
    graft.operators.SnapshotDiff.changeFeed(before, after, spec.pkCols)
  }

  /** Publish a new manifest with one atomic rename — the commit point.
    * The `_current` rename IS the commit; the `_v<seq>` version manifest is
    * written after it as a best-effort history record (a crash between the
    * two loses that version from [[history]] but never the data — readers
    * of `_current` are unaffected, and the next commit's seq still
    * advances past the gap).
    *
    * Each manifest also records the commit WALL-CLOCK (`#ts=<millis>`) —
    * what `TIMESTAMP AS OF` resolves against ([[versionAtTimestamp]]);
    * pre-feature manifests parse without it (those versions are simply
    * not timestamp-addressable).
    */
  private def commit(manifest: Map[Int, Seq[String]]): Unit = {
    val nextVersion = history().lastOption.getOrElse(0L) + 1
    val body = commitManifest(manifest, "ts" -> System.currentTimeMillis())
    // the history record is best-effort ORDER-wise (a crash between the
    // two writes loses the version from history, never the data) but must
    // still be ATOMIC content-wise: snapshotAt/dataDirsAt/changeFeedBetween
    // read _v files concurrently with commits, and a half-flushed record
    // would resolve a partial dir list — silently wrong time travel
    AtomicFiles.write(hadoopConf, versionPath(nextVersion), body)
  }

  /** The shared sweep, plus version retention: prune _v manifests (and
    * their stats records) beyond the newest `retainedVersions`, then
    * protect every data dir any SURVIVING version still references — the
    * time-travel window. With the default retention of 1 the survivors
    * reference exactly the current layout and behavior matches the
    * original one-generation contract.
    */
  override protected def gcUnreferenced(m: BucketedStore.Manifest): Unit = {
    val versions = history()
    val (expired, retained) =
      versions.splitAt((versions.size - retainedVersions).max(0))
    expired.foreach { v =>
      fs.delete(versionPath(v), false)
      fs.delete(statsPath(v), false) // stats of an expired version are dead
    }
    BucketedStore.sweep(fs, tablePath,
      m.dirs.toSet ++ retained.flatMap(v => readManifestAt(versionPath(v)).dirs))
  }

  /** Write `df` bucketed under data/ as fresh immutable dirs named
    * `<bucket>-<token>`, as one-dir stacks.
    *
    * PK-sorted within each bucket file (footer-stats skip scans for
    * snapshotForKeys' pushed In filter), plus Parquet-level bloom filters
    * on each key column for the case stats cannot cover: a probe key
    * INSIDE a row group's min/max range but absent — the reader drops the
    * group on the bloom test without decoding it.
    *
    * CLUSTERED layout (`clusterCols` nonempty — the OPTIMIZE/CLUSTER BY
    * tier): the within-bucket sort leads with the cluster columns
    * instead, so a 100 TB bucket file's row groups carry tight min/max
    * ranges on the clustering dimension (a time column under a retention
    * or dashboard range scan — deleteWhere's probe pass and any pushed
    * range predicate then skip row groups instead of decoding the
    * bucket). PK point lookups keep the bloom filters (exact membership
    * per row group); what they give up is the pk-stat skip scan — choose
    * the layout by the dominant read pattern. Same cost either way: the
    * sort rides the bucket exchange.
    */
  private def writeBucketDirs(df: DataFrame): Map[Int, Seq[String]] =
    writeBuckets(df, clusterCols ++ spec.pkCols,
      spec.pkCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap
    )((b, token) => s"$b-$token").map { case (b, d) => b -> Seq(d) }

  private def readDirs(dirs: Seq[String]): DataFrame =
    readParquet(dirs, spec.schema).select(spec.dataCols.map(col): _*)

  def init(df: DataFrame): Unit = {
    gcUnreferenced(readManifest())
    commit(writeBucketDirs(df.select(spec.dataCols.map(col): _*)))
  }

  def snapshot(): DataFrame = readDirs(readManifest().dirs.toSeq)

  /** Keyed readback that touches ONLY the buckets able to contain `keys` —
    * the read-side twin of merge's bucket pruning. A point lookup against a
    * 100 TB table must not scan 10⁵ bucket dirs for a handful of keys; this
    * resolves the key set's bucket ids (bounded by `numBuckets`, same
    * collect contract as merge), reads those dirs, and left-semi joins the
    * keys (broadcast under the same `broadcastKeyLimit` guard as merge).
    * Consistency matches [[snapshot]]: the manifest resolves at CALL time,
    * the files evaluate lazily.
    *
    * `keys` must carry exactly the primary-key columns (any extra columns
    * are ignored for the probe but make the semi join ambiguous — select
    * them away first). The key frame is evaluated twice (bucket probe +
    * semi join) and therefore persists under the caller's
    * [[graft.operators.CacheScope]] — the returned plan stays LAZY, so
    * release the scope only after the last action on it.
    */
  def snapshotForKeys(keys: DataFrame,
      scope: graft.operators.CacheScope = graft.operators.CacheScope.unmanaged): DataFrame = {
    val pk = spec.pkCols
    val keyDf = scope.own(keys.select(pk.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val perBucket = keyDf
      .groupBy(bucketCol.as("_bucket")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    val affected = perBucket.map(_._1).toSet
    val totalKeys = perBucket.map(_._2).sum
    val probe =
      if (totalKeys <= broadcastKeyLimit) keyDf.hint("broadcast") else keyDf
    val base = readDirs(readManifest().dirsOf(affected))
    // Small key sets additionally push an In predicate on the LEADING key
    // column into the parquet scan: with bucket files PK-sorted (see
    // writeBucketDirs), the row-group stats turn the lookup into a skip
    // scan. A superset filter only — the semi join below stays the exact
    // membership test (composite keys match on every column there). The
    // collect is bounded by inFilterLimit, the same driver-state contract
    // as the bucket probe above.
    val filtered =
      if (totalKeys <= inFilterLimit) {
        val lead = pk.head
        val vals = keyDf.select(col(lead)).distinct().collect().map(_.get(0))
        base.filter(col(lead).isin(vals: _*))
      } else base
    filtered.join(probe, pk, "left_semi")
  }

  /** End-of-stream cleanup: drop every data dir the current manifest doesn't
    * reference. Deferred gc (start of the NEXT merge) means a table whose
    * LAST merge is final would otherwise retain its replaced bucket dirs
    * forever; call this once all snapshots resolved before the final merge
    * are done evaluating. Safe under the single-writer contract.
    */
  def gc(): Unit = gcUnreferenced(readManifest())

  /** Exact row count from parquet FOOTER metadata only — zero data pages
    * read, no Spark job. The count a 100 TB table answers in file-metadata
    * time instead of a full scan (the same statistics q148's DSv2
    * aggregate pushdown reads; here without planning a query at all).
    * Driver-side cost is one footer read per current data file — bounded
    * by the file count, not the row count; a deployment where even that is
    * too slow caches per-bucket counts at write time (the manifest is the
    * natural home) — not done here because footers are the ground truth
    * the cache would have to be validated against anyway.
    *
    * Consistent with [[snapshot]]'s contract: counts the manifest resolved
    * at CALL time. Deleted-but-retained version dirs don't participate.
    */
  def fastCount(): Long = {
    val conf = hadoopConf
    absolute(readManifest().dirs).map { d =>
      fs.listStatus(new Path(d))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map { st =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
    }.sum
  }

  /** Predicate delete — retention sweeps and right-to-be-forgotten
    * erasure, the bulk twin of merge's keyed deletes. Returns the number
    * of rows removed and commits a new version (time-travel and
    * [[changesBetween]] see it like any merge).
    *
    * Two passes, both bucket-bounded:
    *   1. PROBE: count matches per bucket with `cond` pushed into the
    *      parquet scan — footer min/max stats (and the pk bloom filters
    *      when `cond` touches key columns) drop whole row groups without
    *      decoding, so at 100 TB a selective retention predicate reads a
    *      fraction of the store. The collect is ≤ `numBuckets` rows of
    *      driver state, never data-proportional.
    *   2. REWRITE: only the buckets that contain matches are re-written
    *      (same staging + atomic manifest flip as merge); untouched
    *      buckets keep their immutable dirs, so a sweep that hits 3 of
    *      10⁵ buckets costs 3 bucket rewrites, not a table rewrite.
    *
    * NULL predicate rows: `cond` is evaluated under `coalesce(cond,
    * false)` — a row where the predicate is NULL is KEPT (and not
    * counted), matching SQL DELETE semantics where only true rows go.
    */
  def deleteWhere(cond: Column): Long = {
    val manifest = openForWrite()
    val pred = coalesce(cond, lit(false))
    // bucket id is a pure function of the pk, so the probe needs no file
    // lineage — one pushed-filter aggregate over the store
    val perBucket = readDirs(manifest.dirs.toSeq).filter(pred)
      .groupBy(bucketCol.as("_bucket")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    val affected = perBucket.map(_._1).toSet
    if (affected.isEmpty) return 0L
    val rebuilt = writeBucketDirs(readDirs(manifest.dirsOf(affected)).filter(!pred))
    // a bucket emptied by the delete simply leaves the manifest
    commit((manifest.stacks -- affected) ++ rebuilt)
    perBucket.map(_._2).sum
  }

  def merge(batch: CompactedBatch): Unit = {
    val manifest = openForWrite()
    val pk = spec.pkCols
    // Cached for the span of this merge only: the key set is consumed by TWO
    // jobs (the bucket/count probe below and the anti-join inside the bucket
    // rewrite), and without the cache each job re-runs the upstream
    // compaction aggregate. One row per changed key — small by construction.
    val changedKeys = batch.deletes.select(pk.map(col): _*)
      .unionByName(batch.upserts.select(pk.map(col): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // One job yields both the affected bucket set AND the changed-key count
      // (the broadcast guard). Bounded by numBuckets — this collect never
      // scales with data volume.
      val perBucket = changedKeys
        .groupBy(bucketCol.as("_bucket")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1))
      val affected = perBucket.map(_._1).toSet
      if (affected.isEmpty) return
      val totalKeys = perBucket.map(_._2).sum

      // Broadcast only small key sets; a bulk-replay batch with millions of
      // keys would OOM the driver under a forced broadcast, so past the limit
      // Catalyst plans the anti-join as a shuffle (both sides partition by pk).
      val antiKeys =
        if (totalKeys <= broadcastKeyLimit) changedKeys.hint("broadcast")
        else changedKeys

      val merged = readDirs(manifest.dirsOf(affected))
        .join(antiKeys, pk, "left_anti")
        .unionByName(batch.upserts.select(spec.dataCols.map(col): _*))

      // A bucket whose rows were all deleted simply leaves the manifest.
      commit((manifest.stacks -- affected) ++ writeBucketDirs(merged))
      // Replaced dirs are NOT deleted here: they stay on disk until the NEXT
      // merge's gcUnreferenced pass, so a snapshot DataFrame resolved against
      // the pre-merge manifest stays evaluable across this commit (readers
      // resolve lazily; see the retention contract in the class doc).
    } finally changedKeys.unpersist(blocking = false)
  }
}
