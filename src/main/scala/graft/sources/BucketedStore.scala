package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The on-disk layer both pk-bucketed stores share — [[ParquetTableStore]]
  * (copy-on-write) and [[MorTableStore]] (merge-on-read) differ only in
  * their merge and read algebra on top of it.
  *
  * Layout:
  * {{{
  *   root/<table>/_current         — the manifest, the atomic commit point
  *   root/<table>/_spec            — durable identity record (StoreSpecIO)
  *   root/<table>/_stats_v<seq>    — persisted ANALYZE records
  *   root/<table>/data/<dir>/      — immutable pk-bucketed parquet dirs
  * }}}
  *
  * Manifest format: `#key=value` headers (`#buckets=<n>` always first,
  * then the store's own: CoW `#ts=`, MOR `#feedfloor=`), then
  * `bucket<TAB>dir1,dir2,…` — the bucket's dir STACK in apply order. A
  * CoW entry is a stack of one dir.
  *
  * Write protocol (the reference's single-transaction apply, L4): stage
  * the parquet under `.staging_<token>`, move each bucket into `data/`,
  * then publish the manifest through [[AtomicFiles.write]]. A crash before
  * that flip leaves only dirs no manifest names, a staging copy or a
  * commit temp — never visible to readers, all swept by the next write
  * ([[gcUnreferenced]]). Single writer per table by contract.
  */
private[sources] abstract class BucketedStore(
    spark: SparkSession, root: String, numBuckets: Int)
  extends VersionedTableStore {
  import BucketedStore.Manifest

  // lazy: `spec` is the subclass's constructor val
  protected final lazy val tablePath = new Path(root, spec.name.replace('.', '_'))
  protected final lazy val dataPath = new Path(tablePath, "data")
  private lazy val manifestPath = new Path(tablePath, "_current")
  protected final def hadoopConf = spark.sparkContext.hadoopConfiguration
  protected final def fs = tablePath.getFileSystem(hadoopConf)

  /** Bucket id of a row: a pure function of its primary key. */
  protected final def bucketCol: Column =
    pmod(hash(spec.pkCols.map(col): _*), lit(numBuckets))

  def exists: Boolean = fs.exists(manifestPath)

  /** Initial (full) load — same commit protocol as a merge. */
  def init(df: DataFrame): Unit

  /** The durable identity record each commit ensures ([[StoreSpecIO]]). */
  protected def specRec: StoreSpecIO.Rec

  protected final def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  protected final def readParquet(dirs: Seq[String],
      schema: StructType): DataFrame =
    if (dirs.isEmpty) emptyFrame(schema)
    else spark.read.schema(schema).parquet(absolute(dirs): _*)

  /** Absolute paths of data dir names, sorted — what `dataDirsAt` returns. */
  protected final def absolute(dirs: Iterable[String]): Seq[String] =
    dirs.toSeq.sorted.map(d => new Path(dataPath, d).toString)

  // ── manifest codec + commit ─────────────────────────────────────────────

  protected final def readManifestAt(path: Path): Manifest =
    if (!fs.exists(path)) Manifest(Map.empty, Map.empty)
    else {
      val in = fs.open(path)
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val (headers, entries) =
        body.split("\n").filter(_.nonEmpty).partition(_.startsWith("#"))
      Manifest(
        entries.map { l =>
          val Array(b, dirs) = l.split("\t", 2)
          b.toInt -> dirs.split(",").toSeq
        }.toMap,
        headers.map(_.drop(1).split("=", 2))
          .collect { case Array(k, v) => k -> v }.toMap)
    }

  protected final def readManifest(): Manifest = readManifestAt(manifestPath)

  /** Publish `stacks` as the new `_current` — the commit point. Headers
    * go after `#buckets=<n>`, which rides the manifest (a side file could
    * desynchronize from the layout it describes on crash); the `_spec`
    * record is ensured first, one exists-probe. Returns the body, for a
    * store that also records it elsewhere (the CoW `_v<seq>`).
    */
  protected final def commitManifest(stacks: Map[Int, Seq[String]],
      headers: (String, Any)*): Array[Byte] = {
    StoreSpecIO.ensure(hadoopConf, tablePath, specRec)
    val body = ((("buckets" -> numBuckets) +: headers)
      .map { case (k, v) => s"#$k=$v" } ++
      stacks.toSeq.sortBy(_._1).map { case (b, ds) => s"$b\t${ds.mkString(",")}" })
      .mkString("\n").getBytes("UTF-8")
    AtomicFiles.write(hadoopConf, manifestPath, body)
    body
  }

  /** Start a write: read the manifest, reject a bucket count that differs
    * from the one on disk, and sweep crash leftovers.
    *
    * A store reopened with a DIFFERENT bucket count maps keys to different
    * bucket ids than the layout on disk: a merge would miss the key's
    * true bucket and silently DUPLICATE updated rows (and strand deleted
    * ones). Pre-header manifests (no recorded count) can't be validated
    * and adopt this count on commit.
    */
  protected final def openForWrite(): Manifest = {
    val m = readManifest()
    m.buckets.foreach { b =>
      require(b == numBuckets,
        s"table ${spec.name} was written with $b buckets but this store " +
          s"was constructed with $numBuckets — reopening with a different " +
          "bucket count would corrupt the merge; use the original count " +
          "(or rewrite the table via init)")
    }
    gcUnreferenced(m)
    m
  }

  /** Drop every leftover no manifest references ([[BucketedStore.sweep]]).
    * Safe under the single-writer contract.
    */
  protected def gcUnreferenced(m: Manifest): Unit =
    BucketedStore.sweep(fs, tablePath, m.dirs.toSet)

  // ── staged bucket writer ────────────────────────────────────────────────

  /** Write `rows` bucketed by pk under `data/` as fresh immutable dirs named
    * `dirName(bucket, token)`; returns bucket -> dir for buckets that got
    * rows. Rows are sorted within each bucket by `sortCols`, so the parquet
    * writer records tight row-group min/max stats on them (a pushed key or
    * range predicate then skips row groups instead of decoding them); the
    * sort rides the bucket exchange.
    *
    * The pre-write `repartition(_bucket)` makes each bucket ONE task's
    * output (one file), instead of `partitionBy` fanning every shuffle
    * partition across every bucket — without it a write at P shuffle
    * partitions makes up to P tiny files per bucket, and at 10⁴⁺ buckets
    * the file count explodes with cluster size.
    */
  protected final def writeBuckets(rows: DataFrame, sortCols: Seq[String],
      options: Map[String, String])(dirName: (Int, Long) => String): Map[Int, String] = {
    val token = System.nanoTime()
    val staging = new Path(tablePath, s".staging_$token")
    rows.withColumn("_bucket", bucketCol)
      .repartition(col("_bucket"))
      .sortWithinPartitions(col("_bucket") +: sortCols.map(col): _*)
      .write.mode("overwrite").options(options).partitionBy("_bucket")
      .parquet(staging.toString)
    fs.mkdirs(dataPath)
    val written = fs.listStatus(staging)
      .filter(_.getPath.getName.startsWith("_bucket="))
      .map { st =>
        val b = st.getPath.getName.stripPrefix("_bucket=").toInt
        val dir = dirName(b, token)
        AtomicFiles.moveStaged(fs, st.getPath, new Path(dataPath, dir), s"bucket $b")
        b -> dir
      }.toMap
    fs.delete(staging, true)
    written
  }

  // ── ANALYZE-style per-column statistics, `_stats_v<seq>` records ────────

  protected final def statsPath(v: Long) = new Path(tablePath, s"_stats_v$v")

  protected final def statsVersions(): Seq[Long] =
    if (!fs.exists(tablePath)) Seq.empty
    else fs.listStatus(tablePath).map(_.getPath.getName)
      .filter(n => n.startsWith("_stats_v") && n.drop(8).forall(_.isDigit))
      .map(_.drop(8).toLong).toSeq

  /** Per-column statistics of the CURRENT version, persisted
    * version-stamped (`_stats_v<seq>`, atomic rename); computation and
    * codec in [[TableStatsIO]].
    */
  def analyze(): TableStats = {
    val ver = currentVersion
    val (nRows, colStats) = TableStatsIO.compute(snapshotAt(ver), spec.dataCols)
    val bytes = TableStatsIO.dataBytes(hadoopConf, dataDirsAt(ver))
    AtomicFiles.write(hadoopConf, statsPath(ver),
      TableStatsIO.render(ver, nRows, colStats, Some(bytes)))
    TableStats(ver, nRows, colStats, staleBy = 0L, bytes = Some(bytes))
  }

  /** The newest persisted stats with their staleness against the current
    * version; None before the first [[analyze]]. Bounded driver work (one
    * directory listing + one small-file read).
    */
  def stats(): Option[TableStats] = {
    val versions = statsVersions()
    if (versions.isEmpty) return None
    val v = versions.max
    val in = fs.open(statsPath(v))
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    Some(TableStatsIO.parse(body, v, staleBy = currentVersion - v))
  }
}

private[sources] object BucketedStore {

  /** A parsed manifest: bucket -> dir stack, plus its `#key=value`
    * headers. A missing file parses empty.
    */
  final case class Manifest(stacks: Map[Int, Seq[String]],
      headers: Map[String, String]) {
    def buckets: Option[Int] = headers.get("buckets").map(_.toInt)
    def dirs: Iterable[String] = stacks.values.flatten
    def dirsOf(buckets: Set[Int]): Seq[String] =
      stacks.filter(e => buckets(e._1)).values.flatten.toSeq
  }

  /** Files only the table's writer commits — their temps are dead once
    * the writer runs again (`_zones_current` is [[AppendLog]]'s zone
    * index). `_stats_v<n>` is absent on purpose: `analyze()` may run
    * outside the writer, so its temp may be in flight.
    */
  private val WriterFile = raw"_current|_spec|_v\d+|_zones_current".r

  /** The single-writer sweep run at the start of every write to a table
    * dir: a `.staging_*` copy (a write killed between its parquet write
    * and its cleanup), a commit temp of a writer-only file (a commit killed
    * between temp write and rename — also the pre-[[AtomicFiles]]
    * `_current.tmp.*` spelling), and every dir under `data/` not in
    * `live`. None is ever referenced again, and nothing else sweeps them;
    * under the single-writer contract any staging dir present now is dead
    * (this write hasn't created its own yet).
    */
  def sweep(fs: FileSystem, tablePath: Path, live: String => Boolean): Unit = {
    if (fs.exists(tablePath)) fs.listStatus(tablePath).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".staging_") || n.startsWith("_current.tmp.") ||
          AtomicFiles.tempTarget(n).exists(WriterFile.matches))
        fs.delete(st.getPath, true)
    }
    val dataPath = new Path(tablePath, "data")
    if (fs.exists(dataPath)) fs.listStatus(dataPath).foreach { st =>
      if (!live(st.getPath.getName)) fs.delete(st.getPath, true)
    }
  }
}
