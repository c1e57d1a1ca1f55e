package graft.cdcbench

import graft.operators.{CacheScope, Compaction}
import graft.parse.{MaxwellParser, Projection}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}

/** The per-layer metrics of a traced run.
  *
  * Stream-side numbers come from the traced window (the second of the
  * run): Spark's `durationMs` per trigger, the spans [[Rig]] and
  * [[TimedStore]] record around `merge` and `sync`, and the Spark work the
  * [[Tracer]] charged to them. Serve-side numbers come from the traced
  * serve phase. Parse and compaction run fused inside one Spark job of the
  * pipeline, so they are timed apart by replaying the window's batches,
  * file for file and at least [[MinReplays]] times in all, through the same public
  * calls (`MaxwellParser.events`, `Projection.typed`, `Compaction.compact`)
  * after ingest has stopped.
  *
  * A window holds a batch or two, so per-batch figures are plain medians;
  * no tail percentile of them would have ten samples beyond it.
  */
final class Layers(spark: SparkSession, rig: Rig, tracer: Tracer, wl: Workload,
    ingest: Ingest, samples: Seq[Serve.Sample],
    durations: Map[Long, Map[String, Double]]) {
  import Layers._

  private val untraced = ingest.windows.head
  private val traced = ingest.windows(1)
  private val spans = tracer.spans
  private def med(xs: Seq[Double]) = Percentiles.median(xs)
  private def named(n: String) = spans.filter(_.name == n)
  private def inWindow(s: Span) = traced.batches.contains(s.batch)
  private def work(ss: Seq[Span], f: Work => Long): Double =
    ss.flatMap(s => tracer.work(s.id)).map(f).sum.toDouble

  def metrics: Seq[(String, Double, String)] = {
    val out = Seq.newBuilder[(String, Double, String)]
    def add(n: String, v: Double, u: String): Unit = out += ((n, v, u))

    // streaming
    val batches = traced.batches
    def dur(k: String) = batches.map(b => durations.getOrElse(b,
      throw new IllegalStateException(s"no progress for batch $b")).getOrElse(k, 0.0))
    val top = spans.filter(s => s.parent == 0 && inWindow(s)).groupBy(_.batch)
    val self = batches.zip(dur("addBatch")).map { case (b, add) =>
      add - top.getOrElse(b, Nil).map(_.ms).sum }
    add("streaming.batches", batches.size, "count")
    add("streaming.events_per_batch_p50",
      med(traced.filesPerBatch.map(_ * wl.eventsPerFile.toDouble)), "count")
    add("streaming.trigger_p50_ms", med(dur("triggerExecution")), "ms")
    add("streaming.latest_offset_p50_ms", med(dur("latestOffset")), "ms")
    add("streaming.add_batch_p50_ms", med(dur("addBatch")), "ms")
    add("streaming.wal_commit_p50_ms", med(dur("walCommit")), "ms")
    add("streaming.jobs_per_batch",
      batches.map(tracer.jobsInBatch).sum.toDouble / batches.size, "count")
    add("streaming.self_p50_ms", med(self), "ms")
    add("streaming.backlog_files_end", ingest.backlogEnd, "count")

    // parse and operators, from the replay
    val r = replay()
    add("parse.rows_in", r.rowsIn, "count")
    add("parse.rows_routed", r.rowsRouted, "count")
    add("parse.rows_dropped", r.rowsIn - r.rowsRouted, "count")
    add("parse.self_p50_ms", med(r.parseMs), "ms")
    add("operators.compact_p50_ms", med(r.compactMs), "ms")
    add("operators.compact_shuffle_bytes", r.compactShuffle, "bytes")
    add("operators.compact_keys_out", r.keysOut, "count")
    add("operators.compact_keys_per_event", r.keysOut / r.rowsRouted, "ratio")

    // sources
    val merges = named("sources.merge").filter(inWindow)
    val mergePerBatch = merges.groupBy(_.batch).values.map(_.map(_.ms).sum).toSeq
    val written = work(merges, _.bytesWritten.get)
    add("sources.merge_p50_ms", med(mergePerBatch), "ms")
    add("sources.jobs_per_merge", work(merges, _.jobs.get) / merges.size, "count")
    add("sources.bytes_written", written, "bytes")
    add("sources.write_amp", written / (rig.compactedRows.get * bytesPerRow()), "ratio")
    add("sources.mor_stack_depth_max", rig.stackMax.get.toDouble, "count")
    add("sources.mor_folds", rig.folds.get.toDouble, "count")
    add("sources.snapshot_p50_ms", med(named("sources.snapshot").map(_.ms)), "ms")
    add("sources.read_p50_ms", med(named(s"sources.read:${Serve.Scan}").map(_.ms)), "ms")

    // plans
    val syncs = named("plans.sync").filter(inWindow)
    val rollups = samples.filter(_.kind == Serve.Rollup)
    add("plans.mv_sync_p50_ms", med(syncs.map(_.ms)), "ms")
    add("plans.mv_jobs_per_sync", work(syncs, _.jobs.get) / syncs.size, "count")
    add("plans.mv_lag_versions_max", rig.lagMax.get.toDouble, "count")
    add("plans.optimize_p50_ms",
      med(named(s"plans.optimize:${Serve.Rollup}").map(_.ms)), "ms")
    add("plans.rewrite_hit_ratio",
      rollups.count(_.fromSummary).toDouble / rollups.size, "ratio")

    // runtime and harness
    val Seq(jobs, tasks, shuffle, runMs, wallMs) = ingest.sparkWindow
    add("spark.jobs", jobs, "count")
    add("spark.tasks", tasks, "count")
    add("spark.shuffle_bytes", shuffle, "bytes")
    add("spark.executor_busy_ratio", runMs / (Workload.Cores * wallMs), "ratio")
    add("gen.late_max_ms", ingest.lateMs.max, "ms")
    add("trace.overhead_ratio",
      if (wl.load.isLeft) traced.visibleMs / untraced.visibleMs
      else untraced.eventsPerS / traced.eventsPerS, "ratio")
    out.result()
  }

  /** On-disk bytes of one stored row: the data files of both stores'
    * current versions over their row counts.
    */
  private def bytesPerRow(): Double = {
    val stores = Seq(rig.orders, rig.customer)
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = stores.flatMap(s => s.dataDirsAt(s.currentVersion)).map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).getContentSummary(p).getLength
    }.sum
    bytes.toDouble / stores.map(_.snapshot().count()).sum
  }

  private def replay(): Replay = {
    val files = BatchFiles.read(spark, rig.checkpoint)
    val rounds = math.ceil(MinReplays.toDouble / traced.batches.size).toInt
    val picked = for (b <- traced.batches; r <- 0 until rounds) yield (files(b), r == 0)
    var rowsIn, routed, keys = 0L
    val parseMs, compactMs = Seq.newBuilder[Double]
    val compactSpans = Seq.newBuilder[Span]
    for ((names, counted) <- picked) {
      val raw = spark.read.text(names.map(n => rig.inDir.resolve(n).toString): _*)
        .withColumn("seq", monotonically_increasing_id())
        .persist()
      val in = raw.count()
      val scope = new CacheScope
      try {
        val before = tracer.spans.size
        val typed = tracer.span("parse") {
          val events = scope.own(MaxwellParser.events(raw, Tables.Registry, col("seq")).persist())
          val n = events.count()
          if (counted) { rowsIn += in; routed += n }
          Tables.Registry.targets.map { t =>
            val d = scope.own(Projection.typed(events, Tables.Registry.specFor(t)).persist())
            d.count()
            d
          }
        }
        val k = tracer.span("compact") {
          typed.map { d =>
            val b = Compaction.compact(d, scope)
            b.deletes.count() + b.upserts.count()
          }.sum
        }
        if (counted) keys += k
        val mine = tracer.spans.drop(before)
        parseMs += mine.filter(_.name == "parse").map(_.ms).sum
        compactMs += mine.filter(_.name == "compact").map(_.ms).sum
        if (counted) compactSpans ++= mine.filter(_.name == "compact")
      } finally {
        scope.release()
        raw.unpersist()
      }
    }
    tracer.drain()
    Replay(rowsIn.toDouble, routed.toDouble, parseMs.result(), compactMs.result(),
      work(compactSpans.result(), _.shuffleBytes.get), keys.toDouble)
  }
}

object Layers {
  private final case class Replay(rowsIn: Double, rowsRouted: Double,
      parseMs: Seq[Double], compactMs: Seq[Double], compactShuffle: Double,
      keysOut: Double)

  /** Replays of the traced batches for the parse / compaction split. */
  val MinReplays = 3
}
