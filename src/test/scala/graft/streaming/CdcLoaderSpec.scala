package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.model.{TableRegistry, TableSpec}
import graft.operators.CompactedBatch
import graft.parse.MaxwellParser
import graft.sources.{ParquetTableStore, TableStore}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The per-table loaders of [[CdcPipeline.applyBatch]]: a batch's tables
  * merge concurrently (capped by `loaders`), on threads that carry the
  * stream's batch id and job group, and the batch returns or fails only
  * after every loader has returned.
  */
class CdcLoaderSpec extends SparkTestBase {

  private val tables = Seq("public.a", "public.b")
  private val specs = tables.map { t =>
    t -> TableSpec(t,
      StructType(Seq(StructField("id", IntegerType), StructField("name", StringType))),
      Seq("id"))
  }.toMap
  private val registry = TableRegistry(
    Map("demo.a" -> "public.a", "demo.b" -> "public.b"), specs)

  private val lines = (0 until 40).map { k =>
    val t = if (k % 2 == 0) "a" else "b"
    s"""{"database":"demo","table":"$t","type":"insert","ts":1,"data":{"id":$k,"name":"v$k"}}"""
  }

  private def events(): DataFrame = {
    import spark.implicits._
    MaxwellParser.events(
      spark.createDataset(lines).toDF("value").withColumn("seq0", monotonically_increasing_id()),
      registry, col("seq0"))
  }

  private def parquetStores(tag: String): Map[String, TableStore] =
    tables.map(t => t -> (new ParquetTableStore(spark, tmpDir(s"$tag-$t"), specs(t), 2): TableStore))
      .toMap

  private def contents(stores: Map[String, TableStore]): Map[String, Map[Int, String]] =
    stores.map { case (t, s) =>
      t -> s.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap }

  private def loaderThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-loader"))

  /** A store whose merge first runs `before` (on the merging thread), then
    * the real merge; records the thread, and the peak number of merges in
    * flight across every store sharing `inFlight`.
    */
  private final class HookedStore(under: TableStore, inFlight: AtomicInteger,
      peak: AtomicInteger, threads: ConcurrentLinkedQueue[String],
      before: () => Unit) extends TableStore {
    def spec: TableSpec = under.spec
    def snapshot(): DataFrame = under.snapshot()
    def merge(batch: CompactedBatch): Unit = {
      threads.add(Thread.currentThread.getName)
      peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      try { before(); under.merge(batch) }
      finally { inFlight.decrementAndGet(); () }
    }
  }

  private final class Probe {
    val inFlight = new AtomicInteger
    val peak = new AtomicInteger
    val threads = new ConcurrentLinkedQueue[String]
    def wrap(stores: Map[String, TableStore])(before: String => Unit): Map[String, TableStore] =
      stores.map { case (t, s) =>
        t -> (new HookedStore(s, inFlight, peak, threads, () => before(t)): TableStore) }
  }

  test("a batch's two tables merge at once on loader threads; a cap of 1 never overlaps") {
    // both merges must be inside `merge` at once for the shared latch to open
    val latch = new CountDownLatch(2)
    val met = new ConcurrentLinkedQueue[Boolean]
    def meet(): Unit = { latch.countDown(); met.add(latch.await(60, TimeUnit.SECONDS)); () }
    val p = new Probe
    val stores = p.wrap(parquetStores("par"))(_ => meet())
    CdcPipeline.applyBatch(events(), registry, stores)
    assert(met.asScala.toSeq == Seq(true, true), "the two loaders never overlapped")
    assert(p.peak.get == 2)
    assert(p.threads.asScala.forall(_.startsWith("graft-loader")), p.threads)
    assert(loaderThreads.isEmpty)

    // cap 1: the inline path; the first merge waits out its bounded await alone
    val latch1 = new CountDownLatch(2)
    val met1 = new ConcurrentLinkedQueue[Boolean]
    val p1 = new Probe
    val seq = p1.wrap(parquetStores("seq")) { _ =>
      latch1.countDown(); met1.add(latch1.await(1, TimeUnit.SECONDS)); ()
    }
    CdcPipeline.applyBatch(events(), registry, seq, loaders = 1)
    assert(met1.asScala.toSeq == Seq(false, true))
    assert(p1.peak.get == 1)
    assert(p1.threads.asScala.toSet == Set(Thread.currentThread.getName))
    assert(contents(stores) == contents(seq))
    assert(contents(seq)("public.a") ==
      (0 until 40 by 2).map(k => k -> s"v$k").toMap)
  }

  test("the cached path computes the source batch once while loaders overlap") {
    import spark.implicits._
    val scans = spark.sparkContext.longAccumulator("loaderSourceRows")
    val counted = spark.createDataset(lines)
      .mapPartitions { it => it.map { s => scans.add(1); s } }
      .toDF("value")
      .withColumn("seq0", monotonically_increasing_id())
    val latch = new CountDownLatch(2)
    val p = new Probe
    val stores = p.wrap(parquetStores("once")) { _ =>
      latch.countDown(); latch.await(60, TimeUnit.SECONDS); ()
    }
    // both loaders filter the one persisted batch
    CdcPipeline.applyBatch(MaxwellParser.events(counted, registry, col("seq0")),
      registry, stores)
    assert(p.peak.get == 2)
    assert(scans.value == lines.size.toLong,
      s"batch source computed ${scans.value} rows for ${lines.size} events")
    assert(contents(stores)("public.b") ==
      (1 until 40 by 2).map(k => k -> s"v$k").toMap)
  }

  test("every job of a two-table stream batch carries the batch id and the query's job group") {
    val sc = spark.sparkContext
    /** (batch id, job group, merging table) of every job one stream run
      * started for a one-file batch, the run's query id, and its stores.
      */
    def streamJobs(loaders: Int, hook: String => Unit) = {
      val in = tmpDir("loader-in")
      Files.write(Paths.get(in, "b0.json"), lines.mkString("\n").getBytes("UTF-8"))
      val jobs = new ConcurrentLinkedQueue[(Option[String], Option[String], Option[String])]
      val flushed = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
          if (prop("loader.spec.flush").isDefined) flushed.countDown()
          else jobs.add((prop(MicroBatchExecution.BATCH_ID_KEY),
            prop("spark.jobGroup.id"), prop("loader.spec.table")))
          ()
        }
      }
      // the merge's jobs are marked with their table, so the listener can
      // tell the loaders' jobs from the stream thread's
      val stores = new Probe().wrap(parquetStores("grp")) { t =>
        sc.setLocalProperty("loader.spec.table", t); hook(t)
      }
      sc.addSparkListener(listener)
      try {
        val q = CdcPipeline.fileMaxwellStream(spark, in, registry, stores,
          tmpDir("loader-ckpt"), Trigger.ProcessingTime("1 second"), loaders = loaders)
        try q.processAllAvailable() finally q.stop()
        sc.setLocalProperty("loader.spec.flush", "1")
        try sc.parallelize(Seq(1), 1).count()
        finally sc.setLocalProperty("loader.spec.flush", null)
        assert(flushed.await(60, TimeUnit.SECONDS))
        (jobs.asScala.toSeq, q.runId.toString, stores)
      } finally sc.removeSparkListener(listener)
    }
    val latch = new CountDownLatch(2)
    val (seen, runId, stores) = streamJobs(CdcPipeline.DefaultLoaders, _ => {
      latch.countDown(); assert(latch.await(60, TimeUnit.SECONDS)); ()
    })
    assert(seen.flatMap(_._3).toSet == tables.toSet,
      "both loaders' merges must have run jobs")
    assert(seen.forall(_._1.contains("0")),
      s"jobs without the batch id: ${seen.filterNot(_._1.contains("0"))}")
    assert(seen.forall(_._2.contains(runId)),
      s"jobs outside the query's job group: ${seen.filterNot(_._2.contains(runId))}")
    assert(loaderThreads.isEmpty)
    assert(contents(stores)("public.a").size == 20)
    // as many jobs as one loader runs: the batch's cache is computed once,
    // not once per loader that finds it unloaded
    val (inline, _, _) = streamJobs(1, _ => ())
    assert(seen.size == inline.size)
  }

  test("a failed merge is rethrown after the other loader returned; the replay converges") {
    val latch = new CountDownLatch(2)
    val fail = new AtomicBoolean(true)
    val bReturned = new AtomicBoolean(false)
    val stores = parquetStores("fail")
    val p = new Probe
    val hooked = p.wrap(stores) { t =>
      latch.countDown(); latch.await(60, TimeUnit.SECONDS)
      if (t == "public.a" && fail.get) throw new IllegalStateException("merge of a failed")
    }
    // b reports when its (real, slower) merge has returned
    val watched = hooked.updated("public.b", new TableStore {
      def spec: TableSpec = hooked("public.b").spec
      def snapshot(): DataFrame = hooked("public.b").snapshot()
      def merge(batch: CompactedBatch): Unit = {
        hooked("public.b").merge(batch); bReturned.set(true)
      }
    })
    val e = intercept[IllegalStateException](
      CdcPipeline.applyBatch(events(), registry, watched))
    assert(e.getMessage == "merge of a failed")
    assert(bReturned.get, "applyBatch threw before the other loader returned")
    assert(loaderThreads.isEmpty)
    assert(contents(stores)("public.a").isEmpty)

    // the replay of the failed batch re-applies both tables and lands on
    // the sequential result
    fail.set(false)
    CdcPipeline.applyBatch(events(), registry, stores)
    val sequential = parquetStores("fail-seq")
    CdcPipeline.applyBatch(events(), registry, sequential, loaders = 1)
    assert(contents(stores) == contents(sequential))

    // two failures: the first is thrown, the other rides along suppressed
    val both = new CountDownLatch(2)
    val failing = parquetStores("fail2").map { case (t, s) =>
      t -> (new TableStore {
        def spec: TableSpec = s.spec
        def snapshot(): DataFrame = s.snapshot()
        def merge(batch: CompactedBatch): Unit = {
          both.countDown(); both.await(60, TimeUnit.SECONDS)
          throw new IllegalStateException(s"merge of $t failed")
        }
      }: TableStore)
    }
    val e2 = intercept[IllegalStateException](
      CdcPipeline.applyBatch(events(), registry, failing))
    assert((e2 +: e2.getSuppressed.toSeq).map(_.getMessage).toSet ==
      tables.map(t => s"merge of $t failed").toSet)
    assert(loaderThreads.isEmpty)
  }

  test("a registry wider than the loader cap streams to convergence; nothing but Spark's files is left") {
    val n = 9
    val wide = (0 until n).map(i => s"public.w$i")
    val wideRegistry = TableRegistry((0 until n).map(i => s"demo.w$i" -> s"public.w$i").toMap,
      wide.map(t => t -> specs("public.a").copy(name = t)).toMap)
    def line(i: Int, tpe: String, id: Int, name: String, old: String = "") =
      s"""{"database":"demo","table":"w$i","type":"$tpe","ts":1,"data":{"id":$id,"name":"$name"}$old}"""
    val in = tmpDir("wide-in")
    val ckpt = tmpDir("wide-ckpt")
    // two files, two batches (maxFilesPerTrigger = 1); each file gets a
    // strictly later mtime, as the file source's ordering contract asks
    val now = System.currentTimeMillis()
    Seq(
      "b0.json" -> (0 until n).flatMap(i => (0 until 4).map(id => line(i, "insert", id, s"v$id"))),
      "b1.json" -> (0 until n).flatMap(i => Seq(
        line(i, "update", 0, "u0", ""","old":{"name":"v0"}"""), line(i, "delete", 1, "v1"))))
      .zipWithIndex.foreach { case ((name, ls), k) =>
        val p = Files.write(Paths.get(in, name), ls.mkString("\n").getBytes("UTF-8"))
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(now - 2000 + 1000 * k))
      }
    val p = new Probe
    val stores = p.wrap(wide.map(t => t ->
      (new ParquetTableStore(spark, tmpDir(s"wide-$t"), wideRegistry.specFor(t), 2): TableStore))
      .toMap)(_ => ())
    val q = CdcPipeline.fileMaxwellStream(spark, in, wideRegistry, stores, ckpt,
      Trigger.ProcessingTime("1 second"), maxFilesPerTrigger = 1, loaders = 3)
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    assert(contents(stores) == wide.map(_ -> Map(0 -> "u0", 2 -> "v2", 3 -> "v3")).toMap)
    // 2 batches × 9 tables merged on at most 3 loaders, so loaders took
    // several tables each
    val merged = p.threads.asScala.toSeq
    assert(merged.size == 2 * n)
    assert(merged.toSet.subsetOf(Set("graft-loader-0", "graft-loader-1", "graft-loader-2")),
      merged.distinct)
    assert(p.peak.get <= 3)
    assert(loaderThreads.isEmpty, loaderThreads.map(_.getName))
    val left = new java.io.File(ckpt).list().toSet
    assert(left.subsetOf(Set("commits", "offsets", "sources", "metadata", ".metadata.crc")),
      s"the checkpoint dir holds more than Spark's own files: $left")
  }

  test("stopping the query mid-batch leaves no loader thread and commits nothing") {
    val in = tmpDir("loader-stop-in")
    Files.write(Paths.get(in, "b0.json"), lines.mkString("\n").getBytes("UTF-8"))
    val entered = new CountDownLatch(2)
    val stores = parquetStores("stop")
    val p = new Probe
    // both merges block (interruptibly) until the stop interrupts them
    val blocked = p.wrap(stores) { _ =>
      entered.countDown(); Thread.sleep(120000)
    }
    val q = CdcPipeline.fileMaxwellStream(spark, in, registry, blocked,
      tmpDir("loader-stop-ckpt"), Trigger.ProcessingTime("1 second"))
    try assert(entered.await(60, TimeUnit.SECONDS), "the loaders never started")
    finally q.stop()
    assert(loaderThreads.isEmpty, loaderThreads.map(_.getName))
    assert(q.exception.isEmpty)
    assert(contents(stores).values.forall(_.isEmpty))
  }
}
