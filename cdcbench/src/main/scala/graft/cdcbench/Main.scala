package graft.cdcbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import graft.plans.MaterializedView
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Progress goes to stderr; the last line of stdout is one
  * JSON object `{"correct", "attempted", "failed", "metrics"}`. Exits 1
  * when an output check fails and 2, without a result, when the run cannot
  * be measured (the keep-up guard, for one).
  */
object Main {

  final case class Options(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path)

  def parse(args: Array[String]): Options = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Options(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      Paths.get(need("work")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val workload = Workload.byName.getOrElse(opts.workload,
      throw new IllegalArgumentException(s"unknown workload ${opts.workload}; " +
        s"known: ${Workload.byName.keys.toSeq.sorted.mkString(", ")}"))
    require(opts.seconds >= 1, "--seconds must be at least 1")
    Files.createDirectories(opts.work)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${Workload.Cores}]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", Workload.Cores.toString)
      .config("spark.default.parallelism", Workload.Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", opts.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    MaterializedView.install(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    // Every file the run wrote is discarded afterwards, so nothing needs
    // Spark's orderly shutdown: the JVM ends at once, also when the run
    // fails (a running stream must not keep it alive).
    val code =
      try {
        val result = new Run(spark, opts, workload, sessionS).run()
        println(result.json)
        if (result.correct) 0 else 1
      } catch {
        case t: Throwable => t.printStackTrace(); 2
      }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }
}

/** What one run reports. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not a number: $v")
      s""""$n": {"value": ${BigDecimal(v).bigDecimal.toPlainString}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Open loop: one file every `fileIntervalMs`, read by back-to-back
  * micro-batches (`ProcessingTime(0)`): each batch starts as soon as the one
  * before it has committed and reads what arrived meanwhile, so the batch
  * cycle is the pipeline's own per-batch cost.
  */
final case class OpenLoop(fileIntervalMs: Int)
object OpenLoop {
  /** Input files of the warm-up batch, run before the loop starts. */
  val WarmupFiles = 20
  /** The first measured window starts with the first batch that lists its
    * input this long after the loop began, and not before the loop's second
    * batch, so the loop's first batch (a file or two) is never measured.
    */
  val LeadInMs = 4000
  /** Keep-up guard: a run fails when a batch of the loop reads more than
    * this much input time, i.e. a file waited that long for the trigger
    * that read it: three of bireme's 10 s merge intervals.
    */
  val MaxBacklogMs = 30000
}

/** Closed drain: a backlog of `files` files read `maxFilesPerTrigger` at a
  * time under `Trigger.AvailableNow`.
  */
final case class Drain(files: Int, maxFilesPerTrigger: Int)

/** A workload's fixed parameters: every run of it does the same work. */
final case class Workload(
    name: String,
    layout: Layout,
    keys: KeyDist,
    custShare: Double,
    deleteShare: Double,
    eventsPerFile: Int,
    load: Either[OpenLoop, Drain]) {
  /** Warm-up input, read in one batch before the clock starts. */
  def warmupFiles: Int = load.fold(_ => OpenLoop.WarmupFiles, _.maxFilesPerTrigger)
  /** Measured windows of a run: one untraced; a traced run adds a traced
    * second.
    */
  def windows(trace: Boolean): Int = if (trace) 2 else 1
}

object Workload {
  val Cores = 3

  /** `steady_cow_star` offers 100 events/s: a file of 25 events every
    * 250 ms.
    */
  val SteadyCowStar: Workload = Workload("steady_cow_star",
    Layout(mor = false, MvKind.Star),
    KeyDist.Uniform, custShare = 0.2, deleteShare = 0.15,
    eventsPerFile = 25, load = Left(OpenLoop(fileIntervalMs = 250)))

  /** `drain_mor_mv` drains 15,000 zipf-keyed events in two batches of
    * 7,500; the MOR compaction threshold makes auto-compaction fold in
    * every batch.
    */
  val DrainMorMv: Workload = Workload("drain_mor_mv",
    Layout(mor = true, MvKind.Single),
    KeyDist.Zipf(1.1), custShare = 0.05, deleteShare = 0.05,
    eventsPerFile = 750, load = Right(Drain(files = 20, maxFilesPerTrigger = 10)))

  val byName: Map[String, Workload] =
    Seq(SteadyCowStar, DrainMorMv).map(w => w.name -> w).toMap

  /** Set-up rounds per untraced run; set-up time takes their median. */
  val SetupRounds = 3
  /** Serve samples per query kind, after one untimed round. */
  val ServeSamples = 5
}

/** One measured ingest window: a run of back-to-back batches (open loop)
  * or a whole drain. `visibleMs` and `mvVisibleMs` are medians: over the
  * window's files from their due times (open loop), or over the drain's
  * batches from their trigger starts (drain).
  */
final case class Window(
    batches: Seq[Long], filesPerBatch: Seq[Int],
    visibleMs: Double, mvVisibleMs: Double,
    eventsPerS: Double, events: Long, startNs: Long, endNs: Long)

/** The whole ingest phase: its windows, the input files applied after the
  * warm-up, the files the last window's last batch read (open loop: the
  * input that piled up during one batch cycle),
  * how late the generator wrote each file, and the Spark totals of the
  * traced window (jobs, tasks, shuffle bytes, task ms, wall ms).
  */
final case class Ingest(windows: Seq[Window], files: Int, backlogEnd: Int,
    lateMs: Seq[Double], sparkWindow: Seq[Double])

/** One benchmark run of one workload: set-up, ingest, output check, serve,
  * and in a traced run the per-layer breakdown.
  */
final class Run(spark: SparkSession, opts: Main.Options, wl: Workload,
    sessionS: Double) {

  private val born = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[cdcbench +${(System.nanoTime() - born) / 1e9}%.1fs] $msg")
  private def fail(msg: String): Nothing = throw new IllegalStateException(msg)

  private val tracer = if (opts.trace) Some(new Tracer(spark.sparkContext)) else None
  // The drain's input is drawn before any clock starts; the open loop's
  // writer draws each file just before writing it, so how many it writes
  // depends on the pipeline's pace; the output check replays that many.
  private val gen = new Generator(opts.seed, wl.keys, wl.custShare, wl.deleteShare)
  private val initialOrders = gen.initialOrders
  private val initialCustomers = gen.initialCustomers
  private val warmup = gen.files(wl.warmupFiles, wl.eventsPerFile)
  private val backlogs = wl.load.fold(_ => Nil,
    d => Seq.fill(wl.windows(opts.trace))(gen.files(d.files, wl.eventsPerFile)))

  /** The source tables after the warm-up and `files` more input files: a
    * fresh generator replays the seed's sequence that far.
    */
  private def modelAfter(files: Int): Model = {
    val g = new Generator(opts.seed, wl.keys, wl.custShare, wl.deleteShare)
    g.files(wl.warmupFiles + files, wl.eventsPerFile)
    new Model(g.orders.toMap, g.custs.map(c => c.id -> c).toMap)
  }

  // trigger start (System.nanoTime base) and durationMs of every batch
  private val progress = new ConcurrentHashMap[Long, (Long, Map[String, Double])]()
  private val clock = (System.currentTimeMillis(), System.nanoTime())
  private def epochMsToNs(ms: Long): Long = clock._2 + (ms - clock._1) * 1000000L

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.put(p.batchId, (epochMsToNs(java.time.Instant.parse(p.timestamp).toEpochMilli),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }.toMap))
    }
  }

  def run(): Result = {
    spark.streams.addListener(progressListener)
    tracer.foreach(_.install())
    try measure()
    finally {
      tracer.foreach(_.uninstall())
      spark.streams.removeListener(progressListener)
    }
  }

  private def measure(): Result = {
    // set-up: stores loaded, MV built, stream started and one warm-up batch
    // through it; untraced runs repeat the load and build on throw-away
    // rigs after ingest and count the median
    val t0 = System.nanoTime()
    val rig = new Rig(spark, opts.work.resolve("rig"), wl.layout,
      initialOrders, initialCustomers, tracer)
    val loadS = mutable.ArrayBuffer((System.nanoTime() - t0) / 1e9)
    val (warmS, ingest) = wl.load match {
      case Left(ol) => openLoop(rig, ol)
      case Right(d) => drain(rig, d)
    }
    if (!opts.trace) for (r <- 1 until Workload.SetupRounds) {
      val t = System.nanoTime()
      new Rig(spark, opts.work.resolve(s"extra$r"), wl.layout,
        initialOrders, initialCustomers, None).release()
      loadS += (System.nanoTime() - t) / 1e9
    }
    val setupS = sessionS + Percentiles.median(loadS.toSeq) + warmS
    log(f"ingest done; set-up: session $sessionS%.2f s, load+build " +
      loadS.map(x => f"$x%.2f").mkString("/") + f" s, warm-up batch $warmS%.2f s")

    val model = modelAfter(ingest.files)
    val failures = checkOutputs(rig, model)
    val serve = new Serve(spark, rig, wl.layout, model, opts.seed)
    val samples = serveAll(rig, serve)
    val finalRollup = serve.run(Serve.Rollup)
    if (!(finalRollup.ok && finalRollup.fromSummary))
      failures += s"final rollup: correct=${finalRollup.ok}, " +
        s"served from the summary=${finalRollup.fromSummary}"
    samples.filterNot(_.ok).foreach(s => failures += s"wrong ${s.kind} answer")
    log("serve done")

    val untraced = ingest.windows.head
    val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]
    if (!opts.trace) {
      metrics += (("setup_s", setupS, "s"))
      metrics += (("events_per_s", untraced.eventsPerS, "1/s"))
      metrics += (("visible_p50_ms", untraced.visibleMs, "ms"))
      metrics += (("mv_visible_p50_ms", untraced.mvVisibleMs, "ms"))
      for (k <- Serve.Kinds) metrics += ((s"${k}_p50_ms",
        Percentiles.median(samples.filter(_.kind == k).map(_.ms)), "ms"))
      metrics += (("store_mb_end",
        (dirBytes(rig.storesDir) + dirBytes(rig.mvDir)) / 1e6, "MB"))
      metrics += (("rss_peak_mb", rssPeakMb(), "MB"))
    } else {
      metrics ++= new Layers(spark, rig, tracer.get, wl, ingest, samples,
        progress.asScala.map { case (b, v) => b -> v._2 }.toMap).metrics
      metrics += (("jvm.gc_ms", gcMs(), "ms"))
      if (rig.lagMax.get != 0)
        failures += s"MV lagged ${rig.lagMax.get} versions behind a store after a sync"
    }
    failures.foreach(f => log(s"CHECK FAILED: $f"))
    val failed = samples.count(!_.ok) + (if (finalRollup.ok) 0 else 1)
    Result(failures.isEmpty,
      attempted = ingest.windows.map(_.events).sum + samples.size + 1,
      failed = failed, metrics.toSeq)
  }

  /** Switch tracing on for the next window; returns the Spark totals so far. */
  private def traceOn(rig: Rig): Seq[Double] = {
    tracer.get.drain()
    rig.traced = true
    tracer.get.totals
  }

  /** Switch tracing off; returns the Spark totals since `before`, and the
    * window's wall time.
    */
  private def traceOff(rig: Rig, before: Seq[Double], wallMs: Double): Seq[Double] = {
    rig.traced = false
    tracer.get.drain()
    tracer.get.totals.zip(before).map { case (a, b) => a - b } :+ wallMs
  }

  private def windowBatches(rig: Rig, first: Int, n: Int): Seq[(Long, Seq[Int])] = {
    val batches = BatchFiles.read(spark, rig.checkpoint).toSeq
      .map { case (b, fs) => b -> fs.map(Rig.fileIndex) }
      .filter { case (_, idx) => idx.exists(i => i >= first && i < first + n) }
      .sortBy(_._1)
    val seen = batches.flatMap(_._2)
    if (seen.sorted != (first until first + n))
      fail(s"the window's batches read ${seen.size} files, expected exactly its $n")
    batches
  }

  /** Trigger start and `durationMs` of batch `b`, from the streaming
    * progress listener.
    */
  private def progressOf(b: Long): (Long, Map[String, Double]) = {
    val deadline = System.nanoTime() + 10000000000L
    while (!progress.containsKey(b) && System.nanoTime() < deadline) Thread.sleep(2)
    Option(progress.get(b)).getOrElse(fail(s"no streaming progress reported for batch $b"))
  }

  /** The warm-up: its files are read in one `AvailableNow` batch before
    * the clock starts; returns the batch's wall time and its id.
    */
  private def warmUp(rig: Rig, maxFiles: Int): (Double, Long) = {
    warmup.zipWithIndex.foreach { case (lines, i) => rig.writeFile(i, lines) }
    val t = System.nanoTime()
    rig.start(Trigger.AvailableNow(), maxFiles).awaitTermination()
    ((System.nanoTime() - t) / 1e9, BatchFiles.read(spark, rig.checkpoint).keys.max)
  }

  /** The open loop. After the warm-up batch the stream restarts with
    * back-to-back triggers and the writer thread starts with it: the
    * writer draws and writes one file every `fileIntervalMs`, sleeping
    * until each due time, and records how late it wrote. Each measured
    * window is a run of consecutive batches: the first window starts with
    * the first batch that lists its input [[OpenLoop.LeadInMs]] or more
    * after the loop began; a window ends with the first of its batches
    * that lists its input `--seconds` or more after the batch before the
    * window did (and late enough for 22 files), so its batches read at
    * least that much input. A traced run traces a second window that
    * starts right after. The writer stops once the last window's last
    * batch has listed its input, and takes back a file that raced that
    * listing, so no batch follows it.
    *
    * A batch reads the files that arrived while the batch before it ran,
    * so a file's latency, from its due time to its batch's commit, is
    * about one and a half batch cycles. Keep-up guard: the run fails when
    * any batch of the loop read more than [[OpenLoop.MaxBacklogMs]] of
    * input, i.e. when the pipeline fell that far behind the writer.
    */
  private def openLoop(rig: Rig, ol: OpenLoop): (Double, Ingest) = {
    val (warmS, warmBatch) = warmUp(rig, Int.MaxValue)
    val first = warmup.size
    val intervalNs = ol.fileIntervalMs * 1000000L
    // batches that have listed their input (the file source logs a batch's
    // files right after listing them), and when each was first seen
    val sourceLog = java.nio.file.Paths.get(rig.checkpoint, "sources", "0")
    val seen = mutable.HashMap.empty[Long, Long]
    def poll(): Unit = {
      val s = Files.list(sourceLog)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.forall(_.isDigit)).map(_.toLong)
        .foreach(b => if (!seen.contains(b)) seen(b) = System.nanoTime())
      finally s.close()
    }
    val due = mutable.ArrayBuffer.empty[Long]
    val written = mutable.ArrayBuffer.empty[Long]
    val nWindows = wl.windows(opts.trace)
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    @volatile var traceAfter = -1L
    var open = -1L
    var next = warmBatch + 1
    // a window spans at least --seconds of input, and enough files for
    // its median latency (two more than the percentile helper needs)
    val spanNs = math.max(opts.seconds * 1000000000L,
      (Percentiles.samplesFor(50) + 2) * intervalNs)
    val t0 = System.nanoTime()
    // place every newly listed batch: open a window, or close the open one
    def advance(): Unit = {
      poll()
      while (windows.size < nWindows && seen.contains(next)) {
        val at = seen(next)
        if (open < 0 && next >= warmBatch + 2 && at - t0 >= OpenLoop.LeadInMs * 1000000L)
          open = next
        if (open >= 0 && next >= open && at - seen(open - 1) >= spanNs) {
          windows += ((open, next))
          if (windows.size == 1) traceAfter = next
          open = next + 1
        }
        next += 1
      }
    }
    def done = windows.size == nWindows
    val writer = new Thread(() => {
      while (!done) {
        val at = t0 + due.size * intervalNs
        while (System.nanoTime() < at && !done) {
          LockSupport.parkNanos(math.min(at - System.nanoTime(), 5000000L))
          advance()
        }
        if (!done) {
          rig.writeFile(first + due.size, gen.files(1, wl.eventsPerFile).head)
          written += System.nanoTime()
          due += at
        }
      }
      // a file written while the last batch was listing its input would
      // need one more batch: take it back before any trigger lists it
      val read = BatchFiles.read(spark, rig.checkpoint)(windows.last._2)
        .map(Rig.fileIndex).max
      (read + 1 until first + due.size).foreach(i =>
        Files.deleteIfExists(rig.inDir.resolve(Rig.fileName(i))))
    }, "cdcbench-generator")
    @volatile var before = Seq.empty[Double]
    if (opts.trace) rig.onSynced = b => if (b == traceAfter) before = traceOn(rig)
    val q = rig.start(Trigger.ProcessingTime(0L), Int.MaxValue)
    writer.start()
    writer.join()
    q.processAllAvailable()
    q.stop()
    rig.onSynced = _ => ()

    val byBatch = BatchFiles.read(spark, rig.checkpoint).toSeq.sortBy(_._1)
      .collect { case (b, fs) if b > warmBatch => b -> fs.map(Rig.fileIndex) }
    val startOf = byBatch.map { case (b, _) => b -> progressOf(b)._1 }.toMap
    val took = byBatch.map { case (b, _) =>
      b -> progressOf(b)._2.getOrElse("triggerExecution", 0.0) }.toMap
    val filesOf = byBatch.toMap
    val batchOf = byBatch.flatMap { case (b, is) => is.map(_ -> b) }.toMap
    val applied = batchOf.keys.max + 1 - first
    if (batchOf.keys.toSeq.sorted != (first until first + applied))
      fail(s"the loop's batches read ${batchOf.size} files, expected $applied in sequence")
    def report = byBatch.map { case (b, is) =>
      f"batch $b: ${is.size} files, started at +${(startOf(b) - t0) / 1e9}%.1f s, " +
        f"took ${took(b) / 1000}%.1f s" }.mkString("; ")
    log(s"open loop: $report; windows ${windows.mkString(", ")}")
    // keep-up guard
    val maxFiles = OpenLoop.MaxBacklogMs / ol.fileIntervalMs
    byBatch.find(_._2.size > maxFiles).foreach { case (b, is) =>
      fail(s"keep-up guard: batch $b read ${is.size} files, more than the $maxFiles " +
        s"written in ${OpenLoop.MaxBacklogMs} ms; the pipeline is not keeping up: $report")
    }

    val ws = windows.toSeq.map { case (s, e) =>
      val bs = s to e
      val idx = bs.flatMap(filesOf).map(_ - first)
      def since(stamp: ConcurrentHashMap[Long, Long]) =
        Percentiles.of(idx.map(i => (stamp.get(batchOf(first + i)) - due(i)) / 1e6), 50)
      val events = idx.size.toLong * wl.eventsPerFile
      // the rate the pipeline took input at: the window's batches read what
      // arrived since the batch before them listed its input
      Window(bs, bs.map(filesOf(_).size), since(rig.commitNs), since(rig.syncNs),
        events / ((startOf(e) - startOf(s - 1)) / 1e9), events,
        startOf(s), rig.syncNs.get(e))
    }
    val sparkWindow = if (opts.trace) {
      val tw = ws(1)
      traceOff(rig, before, (tw.endNs - tw.startNs) / 1e6)
    } else Nil
    (warmS, Ingest(ws, applied, filesOf(windows.last._2).size,
      (0 until applied).map(i => (written(i) - due(i)) / 1e6), sparkWindow))
  }

  /** Closed drain: the backlog is written before the clock starts; the
    * stream then reads it `maxFilesPerTrigger` files at a time. Visibility
    * runs from each batch's trigger start to its commit (or its sync's
    * return). With no schedule to fall behind, the generator's lateness is
    * its per-file write time.
    */
  private def drain(rig: Rig, d: Drain): (Double, Ingest) = {
    val (warmS, _) = warmUp(rig, d.maxFilesPerTrigger)
    var first = wl.warmupFiles
    var sparkWindow = Seq.empty[Double]
    val writeMs = mutable.ArrayBuffer.empty[Double]
    val ws = backlogs.zipWithIndex.map { case (files, w) =>
      val traced = opts.trace && w == 1
      val n = files.size
      files.zipWithIndex.foreach { case (lines, i) =>
        val t = System.nanoTime(); rig.writeFile(first + i, lines)
        writeMs += (System.nanoTime() - t) / 1e6
      }
      val before = if (traced) traceOn(rig) else Nil
      val t0 = System.nanoTime()
      rig.start(Trigger.AvailableNow(), d.maxFilesPerTrigger).awaitTermination()
      val end = System.nanoTime()
      val batches = windowBatches(rig, first, n)
      def since(stamp: Long => Long) = Percentiles.median(batches.map { case (b, _) =>
        (stamp(b) - progressOf(b)._1) / 1e6 })
      val events = n.toLong * wl.eventsPerFile
      val m = Window(batches.map(_._1), batches.map(_._2.size),
        since(rig.commitNs.get(_)), since(rig.syncNs.get(_)),
        events / ((end - t0) / 1e9), events, t0, end)
      if (traced) sparkWindow = traceOff(rig, before, (end - t0) / 1e6)
      log(f"drain $w${if (traced) " (traced)" else ""}: ${m.batches.size} batches, " +
        f"${m.eventsPerS}%.1f events/s")
      first += n
      m
    }
    (warmS, Ingest(ws, backlogs.map(_.size).sum, 0, writeMs.toSeq, sparkWindow))
  }

  /** Serve phase: one untimed round, a GC barrier, then the kinds in a
    * fixed round-robin order.
    */
  private def serveAll(rig: Rig, serve: Serve): Seq[Serve.Sample] = {
    Serve.Kinds.foreach(serve.run)
    System.gc()
    rig.traced = opts.trace
    try for (_ <- 0 until Workload.ServeSamples; k <- Serve.Kinds) yield serve.run(k)
    finally rig.traced = false
  }

  /** The output check: every store equals the model row for row, and the
    * maintained summary equals the model's rollup.
    */
  private def checkOutputs(rig: Rig, model: Model): mutable.ArrayBuffer[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    val orders = rig.orders.snapshot().collect()
      .map(r => Order(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    if (orders.length != model.orders.size ||
        orders.exists(o => !model.orders.get(o.id).contains(o)))
      failures += s"orders store differs from the model " +
        s"(${orders.length} rows vs ${model.orders.size})"
    val custs = rig.customer.snapshot().collect()
      .map(r => Customer(r.getLong(0), r.getString(1), r.getString(2)))
    if (custs.length != model.customers.size ||
        custs.exists(c => !model.customers.get(c.id).contains(c)))
      failures += s"customer store differs from the model " +
        s"(${custs.length} rows vs ${model.customers.size})"
    val (groupCol, expected) = wl.layout.mv match {
      case MvKind.Star => ("c_segment", model.starRollup)
      case MvKind.Single => ("o_status", model.statusRollup)
    }
    val summary = spark.read.parquet(rig.summaryPath)
      .selectExpr(groupCol, "cnt", "s_o_amount", "mn_o_amount", "mx_o_amount")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    if (summary != expected) failures += "MV summary differs from the model rollup: " +
      s"${(summary diff expected).take(3)} vs ${(expected diff summary).take(3)}"
    failures
  }

  private def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum

  private def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val line = try src.getLines().find(_.startsWith("VmHWM:")) finally src.close()
    line.getOrElse(fail("no VmHWM in /proc/self/status")).split("\\s+")(1).toDouble / 1024
  }

  private def dirBytes(d: Path): Double = {
    val s = Files.walk(d)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
    finally s.close()
  }
}
