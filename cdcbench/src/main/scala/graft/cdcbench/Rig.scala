package graft.cdcbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.model.{TableRegistry, TableSpec}
import graft.operators.CompactedBatch
import graft.plans.{MaterializedView, MvMaintainer, StarMv, StarMvMaintainer}
import graft.sources.{MorTableStore, ParquetTableStore, TableStore, VersionedTableStore}
import graft.streaming.CdcPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The two synced tables and their Maxwell routing. */
object Tables {
  val Orders: TableSpec = TableSpec("public.orders", StructType(Seq(
    StructField("o_id", LongType), StructField("o_cust", LongType),
    StructField("o_amount", LongType), StructField("o_status", StringType))),
    Seq("o_id"))
  val Customer: TableSpec = TableSpec("public.customer", StructType(Seq(
    StructField("c_id", LongType), StructField("c_segment", StringType),
    StructField("c_name", StringType))), Seq("c_id"))
  val Registry: TableRegistry = TableRegistry(
    Map(s"${Generator.Database}.orders" -> Orders.name,
      s"${Generator.Database}.customer" -> Customer.name),
    Map(Orders.name -> Orders, Customer.name -> Customer))

  def ordersDf(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(
      rows.map(o => Row(o.id, o.cust, o.amount, o.status)).asJava, Orders.schema)
  def customerDf(spark: SparkSession, rows: Seq[Customer]): DataFrame =
    spark.createDataFrame(
      rows.map(c => Row(c.id, c.segment, c.name)).asJava, Customer.schema)
}

/** The materialized view a workload maintains. */
sealed trait MvKind
object MvKind {
  /** orders ⋈ customer rolled up by segment, kept by a [[StarMvMaintainer]]. */
  case object Star extends MvKind
  /** orders rolled up by status, kept by a single-table [[MvMaintainer]]. */
  case object Single extends MvKind
}

/** Store kind (merge-on-read or copy-on-write) and MV of one workload. */
final case class Layout(mor: Boolean, mv: MvKind)

/** One set-up of the pipeline under test in its own directory: two
  * versioned stores loaded with the generator's initial tables, one MV
  * built over them with its maintainer, and the input directory a
  * `fileMaxwellStream` watches. The stream's `postBatch` hook stamps the
  * batch's commit time, syncs the MV and stamps the sync's return.
  *
  * With a [[Tracer]], the stores handed to the stream are [[TimedStore]]s
  * and `postBatch` records spans, but only while [[traced]] is set.
  */
final class Rig(spark: SparkSession, dir: Path, layout: Layout,
    initialOrders: Seq[Order], initialCustomers: Seq[Customer],
    val tracer: Option[Tracer]) {

  val inDir: Path = Files.createDirectories(dir.resolve("in"))
  private val staging = Files.createDirectories(dir.resolve("staging"))
  val checkpoint: String = dir.resolve("ckpt").toString
  val storesDir: Path = dir.resolve("stores")
  val mvDir: Path = dir.resolve("mv")

  val orders: VersionedTableStore = store(Tables.Orders, Rig.OrderBuckets)
  val customer: VersionedTableStore = store(Tables.Customer, Rig.CustomerBuckets)

  /** batch id → System.nanoTime at `postBatch` entry / at `sync()` return. */
  val commitNs = new ConcurrentHashMap[Long, Long]()
  val syncNs = new ConcurrentHashMap[Long, Long]()
  @volatile private var tracing = false
  /** Whether spans and probes are recorded; switching it on records the
    * current MOR dirs, so the first traced batch's fold is seen too.
    */
  def traced: Boolean = tracing
  def traced_=(on: Boolean): Unit = {
    if (on && !tracing) lastDirs = morDirs()
    tracing = on
  }
  /** MV version lag seen right after each traced sync (max over tables). */
  val lagMax = new AtomicLong(0)
  /** Deepest MOR stack seen after a traced batch, and batches whose merge
    * folded a stack (auto-compaction replaces dirs; a plain merge only adds).
    */
  val stackMax = new AtomicLong(0)
  val folds = new AtomicLong(0)
  /** Rows of compacted batches handed to traced merges. */
  val compactedRows = new AtomicLong(0)
  private var lastDirs = Set.empty[String]

  private def store(spec: TableSpec, buckets: Int): VersionedTableStore = {
    val root = storesDir.toString
    if (layout.mor)
      new MorTableStore(spark, root, spec, buckets,
        compactThreshold = Rig.CompactThreshold, autoCompact = true)
    else new ParquetTableStore(spark, root, spec, buckets, retainedVersions = 3)
  }

  private def init(s: VersionedTableStore, df: DataFrame): Unit = s match {
    case m: MorTableStore => m.init(df)
    case p: ParquetTableStore => p.init(df)
    case other => sys.error(s"unexpected store ${other.getClass}")
  }

  init(orders, Tables.ordersDf(spark, initialOrders))
  init(customer, Tables.customerDf(spark, initialCustomers))

  // Registry keys: parquet copies of the initial tables. Builds read them;
  // refreshes never do (the maintainers pin store snapshots instead).
  private val ordersKey = mvDir.resolve("orders_key").toString
  private val customerKey = mvDir.resolve("customer_key").toString
  private val summaryStem = mvDir.resolve("summary").toString

  private val maintainer: Either[StarMvMaintainer, MvMaintainer] = layout.mv match {
    case MvKind.Star =>
      import StarMv.{QCol, StarMvDef}
      orders.snapshot().write.parquet(ordersKey)
      customer.snapshot().write.parquet(customerKey)
      val d = StarMv.build(spark, StarMvDef(
        tables = Seq(ordersKey, customerKey),
        joins = Seq((QCol(ordersKey, "o_cust"), QCol(customerKey, "c_id"))),
        groupCols = Seq(QCol(customerKey, "c_segment")),
        measureCols = Seq(QCol(ordersKey, "o_amount")),
        summaryPath = summaryStem))
      Left(StarMvMaintainer.create(spark,
        Map(ordersKey -> orders, customerKey -> customer), d,
        mvDir.resolve("state").toString))
    case MvKind.Single =>
      val d = MaterializedView.build(spark, ordersKey, Seq("o_status"),
        Seq("o_amount"), summaryStem, base = Some(orders.snapshot()))
      Right(MvMaintainer.create(spark, orders, d, mvDir.resolve("state").toString))
  }

  /** Where the maintained summary currently lives. */
  def summaryPath: String = maintainer.fold(_.definition.summaryPath,
    _.definition.summaryPath)

  /** The prefix of every summary generation's path. */
  def summaryRoot: String = summaryStem

  private def morDirs(): Set[String] = orders match {
    case m: MorTableStore => m.dataDirsAt(m.currentVersion).toSet
    case _ => Set.empty
  }

  private def syncedLag(): Long = maintainer match {
    case Left(m) =>
      def synced(key: String) =
        m.syncedVersions(new org.apache.hadoop.fs.Path(key).toUri.getPath)
      math.max(orders.currentVersion - synced(ordersKey),
        customer.currentVersion - synced(customerKey))
    case Right(m) => orders.currentVersion - m.syncedVersion
  }

  private def sync(): Unit = maintainer.fold(_.sync(), _.sync())

  private def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) if traced => t.span(name)(body)
    case _ => body
  }

  /** Called at the end of each batch's `postBatch`, on the stream's thread. */
  @volatile var onSynced: Long => Unit = _ => ()

  /** The public `postBatch` hook: every table of the batch has committed. */
  def postBatch(batchId: Long): Unit = {
    commitNs.put(batchId, System.nanoTime())
    span("plans.sync")(sync())
    syncNs.put(batchId, System.nanoTime())
    if (traced) span("probe") {
      lagMax.accumulateAndGet(syncedLag(), math.max)
      orders match {
        case m: MorTableStore =>
          stackMax.accumulateAndGet(m.stackDepths().values.max.toLong, math.max)
          val dirs = morDirs()
          if (!lastDirs.subsetOf(dirs)) folds.incrementAndGet()
          lastDirs = dirs
        case _ => stackMax.accumulateAndGet(1L, math.max)
      }
    }
    onSynced(batchId)
  }

  private val streamStores: Map[String, TableStore] = {
    val raw = Map(Tables.Orders.name -> (orders: TableStore),
      Tables.Customer.name -> (customer: TableStore))
    if (tracer.isEmpty) raw
    else raw.map { case (n, s) => n -> (new TimedStore(s, this): TableStore) }
  }

  def start(trigger: Trigger, maxFilesPerTrigger: Int): StreamingQuery =
    CdcPipeline.fileMaxwellStream(spark, inDir.toString, Tables.Registry,
      streamStores, checkpoint, trigger, maxFilesPerTrigger,
      postBatch = Some(postBatch _))

  private var lastMtime = 0L

  /** Write one input file outside the watched directory and move it in
    * atomically, so no trigger lists a half-written file. Names carry the
    * file's sequence number (the file source's ordering contract).
    *
    * TEMPORARY WORKAROUND for an engine defect: `fileMaxwellStream` picks
    * each batch's `maxFilesPerTrigger` files by modification time alone,
    * so files that share a millisecond can be read by batches out of name
    * order, and last-write-wins then applies their events out of order.
    * Until the engine orders ties by name, each file gets a modification
    * time strictly later than the previous file's. `MtimeTieSpec` checks
    * that the defect is still there and fails once it is fixed; then
    * delete this shaping.
    */
  def writeFile(index: Int, lines: Seq[String]): Unit = {
    val name = Rig.fileName(index)
    val tmp = staging.resolve(name)
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val mtime = math.max(Files.getLastModifiedTime(tmp).toMillis, lastMtime + 1)
    Files.setLastModifiedTime(tmp, java.nio.file.attribute.FileTime.fromMillis(mtime))
    lastMtime = mtime
    Files.move(tmp, inDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Drop this rig's MV registration (a discarded set-up round). */
  def release(): Unit = maintainer match {
    case Left(m) => StarMv.unregister(m.definition.summaryPath)
    case Right(_) => MaterializedView.unregister(ordersKey)
  }
}

object Rig {
  val OrderBuckets = 4
  val CustomerBuckets = 2
  /** MOR stack depth at which auto-compaction folds a bucket: 3 makes the
    * drain fold in every batch.
    */
  val CompactThreshold = 3

  def fileName(index: Int): String = f"$index%09d.json"
  def fileIndex(name: String): Int = name.stripSuffix(".json").toInt
}

/** The store the stream merges into, with each `merge` split into two
  * spans: `operators.prepare` forces the compacted batch (parse, typed
  * projection and per-key compaction, which the pipeline leaves lazy) and
  * `sources.merge` is the store write alone.
  */
final class TimedStore(under: TableStore, rig: Rig) extends TableStore {
  def spec: TableSpec = under.spec
  def snapshot(): DataFrame = under.snapshot()
  def merge(batch: CompactedBatch): Unit = rig.tracer match {
    case Some(t) if rig.traced =>
      val rows = t.span("operators.prepare") {
        batch.deletes.count() + batch.upserts.count()
      }
      rig.compactedRows.addAndGet(rows)
      t.span("sources.merge")(under.merge(batch))
    case _ => under.merge(batch)
  }
}
