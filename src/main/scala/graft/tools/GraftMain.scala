package graft.tools

import graft.config.{GraftBoot, GraftConfig}
import graft.obs.{ConsoleReporter, PipelineMetrics, StateServer}
import graft.streaming.SupervisedQuery
import org.apache.spark.sql.SparkSession

/** The deployment entry point — the reference's `Bireme.main` lifecycle
  * (Bireme.java:188-265: parse config → probe target metadata → build one
  * loader per table → start pipelines → metrics reporter + state server →
  * block; SIGTERM runs an orderly stop) re-expressed over the config boot
  * layer and Structured Streaming.
  *
  * Usage: `runMain graft.tools.GraftMain <config.properties> [workDir]`
  * `workDir` (default `./graft-work`) holds per-source checkpoints — on a
  * cluster this must be a SHARED filesystem path.
  *
  * Each source runs under a [[SupervisedQuery]] (the O2 restart policy:
  * `maxRestarts` failures poison the pipeline to ERROR and drop it from
  * rotation, like the reference's scheduler). Kafka sources need the
  * spark-sql-kafka connector and a reachable broker; a source with
  * `<name>.replay.dir` replays archived Maxwell JSON offline.
  */
object GraftMain {

  /** Everything [[boot]] started, with an orderly [[Running.stop]]. */
  final case class Running(
      spark: SparkSession,
      sources: Map[String, SupervisedQuery],
      metrics: Map[String, PipelineMetrics],
      stateServer: StateServer,
      reporter: Option[ConsoleReporter]) {
    def stop(): Unit = {
      sources.values.foreach(s => try s.stop() catch { case _: Exception => () })
      // deregister the per-source listeners: repeated boot/stop on one
      // session (the embedding/test path) would otherwise accumulate
      // listeners that keep receiving every later query's events
      metrics.values.foreach(m =>
        try spark.streams.removeListener(m) catch { case _: Exception => () })
      reporter.foreach(_.stop())
      stateServer.stop()
    }

    /** Block until every supervised source is terminal (STOPPED or ERROR) —
      * the supervision-aware wait [[main]] blocks on. A plain
      * `awaitAnyTermination` would throw on the FIRST transient failure the
      * supervisor is about to retry, defeating the restart budget; the
      * reference likewise keeps running healthy pipelines while an ERROR one
      * is dropped from rotation (Scheduler.java:49-88).
      */
    def awaitAllTerminal(pollMs: Long = 1000): Unit =
      while (sources.values.exists(_.state == "NORMAL")) Thread.sleep(pollMs)
  }

  /** Wire the full lifecycle for `cfg` and return the running handle —
    * factored from [[main]] so tests (and embedding applications) drive the
    * exact production boot path without process-level blocking. Fail-fast is
    * clean: if a later source's metadata probe fails, every earlier source's
    * query and listener is stopped/removed before the error propagates — no
    * orphan stream keeps merging with no handle to stop it.
    */
  def boot(spark: SparkSession, cfg: GraftConfig, workDir: String,
      maxRestarts: Int = 3): Running = {
    val started = scala.collection.mutable.ArrayBuffer
      .empty[(String, SupervisedQuery, PipelineMetrics)]
    try {
      cfg.sources.foreach { source =>
        // §1.4: the target database's own metadata supplies every schema/PK
        val registry = GraftBoot.registryFor(cfg, source)
        val stores = GraftBoot.storesFor(spark, cfg, registry)
        val metrics = new PipelineMetrics(source.name).restrictToTracked()
        spark.streams.addListener(metrics)
        val supervised = new SupervisedQuery(
          () => GraftBoot.startSource(spark, cfg, source, registry, stores,
            s"$workDir/ckpt-${source.name}", Some(metrics)),
          maxRestarts).start()
        // listener registration is session-global: restrict each source's
        // listener to its own query so a multi-source deployment's routes
        // and counters don't cross-contaminate (the id survives supervised
        // restarts — it comes from the checkpoint)
        metrics.track(supervised.query.id)
        started += ((source.name, supervised, metrics))
      }
    } catch {
      case e: Throwable =>
        started.foreach { case (_, sup, m) =>
          try sup.stop() catch { case _: Exception => () }
          try spark.streams.removeListener(m) catch { case _: Exception => () }
        }
        throw e
    }
    val allMetrics = started.toSeq.map(_._3)
    val stateServer = new StateServer(allMetrics,
      cfg.stateServerPort, cfg.stateServerAddr)
    stateServer.start()
    val reporter =
      if (cfg.reporter == "console")
        Some(new ConsoleReporter(allMetrics, cfg.reportIntervalSec).start())
      else None
    Running(spark,
      started.map(t => t._1 -> t._2).toMap,
      started.map(t => t._1 -> t._3).toMap,
      stateServer, reporter)
  }

  def main(args: Array[String]): Unit = {
    val configFile = args.headOption.getOrElse(
      sys.error("usage: GraftMain <config.properties> [workDir]"))
    val workDir = args.lift(1).getOrElse("graft-work")
    val cfg = GraftConfig.load(configFile)
    val spark = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val running = boot(spark, cfg, workDir)
    println(s"graft started: ${cfg.sources.map(_.name).mkString(", ")} " +
      s"(state at http://${cfg.stateServerAddr}:${running.stateServer.port}/)")
    // the reference's commandline stop → orderly shutdown (Bireme.java:216-242)
    sys.addShutdownHook(running.stop())
    running.awaitAllTerminal()
  }
}
