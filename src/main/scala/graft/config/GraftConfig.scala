package graft.config

import java.io.{File, FileInputStream, InputStreamReader}
import java.util.Properties

import graft.model.TableRegistry
import graft.obs.PipelineMetrics
import graft.sources.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Target warehouse connection (reference: Config.java:60-64,117-131). */
final case class ConnectionConfig(url: String, user: Option[String], passwd: Option[String])

/** The two CDC envelope flavors the reference ships
  * (reference: SourceConfig.SourceType, Config.java:165-178).
  */
sealed abstract class SourceType(val label: String)
object SourceType {
  case object Maxwell extends SourceType("maxwell")
  case object Debezium extends SourceType("debezium")
}

/** One configured data source: its Kafka coordinates plus the
  * origin→target table map loaded from the sibling `<name>.properties`
  * file (reference: Config.java:188-244, `etc/maxwell1.properties`).
  *
  * @param topic    Maxwell: the single binlog topic (`<name>.kafka.topic`);
  *                 Debezium: the topic NAMESPACE (`<name>.namespace`) — the
  *                 connector publishes one topic per table as
  *                 `<namespace>.<schema>.<table>`.
  * @param tableMap origin `"db.table"` → target `"schema.table"`; events
  *                 whose source table has no entry are dropped (F1). The
  *                 reference keys this map as `"<source>.<db>.<table>"` for
  *                 its global dispatch (Config.java:262-268); per-source the
  *                 prefix is redundant, so we keep raw origin names, which is
  *                 what [[graft.model.TableRegistry]] matches events against.
  * @param replayDir EXTENSION beyond the reference's schema
  *                 (`<name>.replay.dir`): when set on a Maxwell source, the
  *                 pipeline replays JSON-lines files from this directory via
  *                 [[graft.streaming.CdcPipeline.fileMaxwellStream]] instead
  *                 of connecting to Kafka — the bulk-replay / disaster-
  *                 recovery deployment (reprocessing archived CDC logs), and
  *                 the offline-testable boot path.
  */
final case class SourceConfig(
    name: String,
    tpe: SourceType,
    kafkaServer: String,
    topic: String,
    groupId: String,
    tableMap: Map[String, String],
    replayDir: Option[String] = None)

/** Everything a deployment boots from: the reference's
  * `etc/config.properties` schema, parsed with the same keys, defaults and
  * fail-fast checks (reference: Config.java:89-138, README.md:99-105).
  *
  * The knobs with execution semantics are `merge.interval` (micro-batch
  * trigger, T1), `merge.batch.size` (`maxOffsetsPerTrigger` back-pressure,
  * R2) and `loader.conn_pool.size`, which caps how many mapped tables one
  * micro-batch merges concurrently (the reference's loader pool; see
  * [[graft.streaming.CdcPipeline.applyBatch]]). The other thread-pool sizes
  * (`pipeline/transform/merge.thread_pool.size`, `loader.task_queue.size`)
  * are parsed for config-file parity but are ADVISORY here: Spark's
  * scheduler owns that parallelism.
  */
final case class GraftConfig(
    target: ConnectionConfig,
    sources: Seq[SourceConfig],
    mergeIntervalMs: Int,
    batchSize: Int,
    pipelinePoolSize: Int,
    transformPoolSize: Int,
    mergePoolSize: Int,
    loaderConnSize: Int,
    loaderTaskQueueSize: Int,
    reporter: String,
    reportIntervalSec: Int,
    stateServerAddr: String,
    stateServerPort: Int) {

  /** The reference's global dispatch map, prefix and all
    * (Config.java:262-268): `"<source>.<db>.<table>" → target`.
    */
  def globalTableMap: Map[String, String] =
    sources.flatMap(s => s.tableMap.map { case (o, t) => s"${s.name}.$o" -> t }).toMap

  def trigger: Trigger = Trigger.ProcessingTime(mergeIntervalMs.toLong)
}

object GraftConfig {

  /** Parse `configFile` and each source's sibling `<source>.properties`
    * table map, failing fast with the reference's error conditions
    * (missing target url / data_source / type / server / topic / namespace,
    * non-`db.table` map entries, Config.java:117-272).
    */
  def load(configFile: String): GraftConfig = {
    val f = new File(configFile)
    val props = loadProps(f)
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"$configFile: $msg")
    def get(key: String): Option[String] =
      Option(props.getProperty(key)).map(_.trim).filter(_.nonEmpty)
    def getInt(key: String, dflt: Int): Int = get(key).map { v =>
      try v.toInt catch { case _: NumberFormatException => fail(s"$key must be an integer, got '$v'") }
    }.getOrElse(dflt)
    // Bounds checked AT LOAD — this layer's whole job is the reference's
    // fail-fast startup validation: a negative merge.interval otherwise only
    // throws deep inside Spark's trigger at stream start, a negative batch
    // size silently misbehaves in the Kafka source, an out-of-range port
    // errors at server bind — all far from the config that caused them.
    def getPosInt(key: String, dflt: Int): Int = {
      val v = getInt(key, dflt)
      if (v <= 0) fail(s"$key must be positive, got $v")
      v
    }

    val target = ConnectionConfig(
      get("target.url").getOrElse(fail("please designate url for target database (target.url)")),
      get("target.user"), get("target.passwd"))

    val sourceNames = get("data_source")
      .map(_.split(",").map(_.replaceAll("[ \\f\\n\\r\\t]", "")).filter(_.nonEmpty).toSeq.distinct)
      .getOrElse(Seq.empty)
    if (sourceNames.isEmpty) fail("please designate at least one data source (data_source)")

    val sources = sourceNames.map { name =>
      val tpe = get(s"$name.type").getOrElse(fail(s"please designate the data source type of $name")) match {
        case "maxwell" => SourceType.Maxwell
        case "debezium" => SourceType.Debezium
        case other => fail(s"unrecognized type '$other' for data source $name")
      }
      val replayDir = get(s"$name.replay.dir")
      if (replayDir.isDefined && tpe != SourceType.Maxwell)
        fail(s"$name.replay.dir is only supported for maxwell sources " +
          "(the file-replay path parses Maxwell JSON lines)")
      // a pure-replay source never opens a broker connection, so its Kafka
      // coordinates are optional; a broker source keeps the reference's
      // fail-fast requirements
      val server = get(s"$name.kafka.server").getOrElse(
        if (replayDir.isDefined) ""
        else fail(s"please designate server for $name ($name.kafka.server)"))
      val topic = tpe match {
        case SourceType.Maxwell =>
          get(s"$name.kafka.topic").getOrElse(
            if (replayDir.isDefined) ""
            else fail(s"please designate topic for $name ($name.kafka.topic)"))
        case SourceType.Debezium =>
          get(s"$name.namespace").getOrElse(fail(s"please designate your namespace ($name.namespace)"))
      }
      val groupId = get(s"$name.kafka.groupid").getOrElse("bireme")
      SourceConfig(name, tpe, server, topic, groupId, loadTableMap(f, name), replayDir)
    }

    GraftConfig(
      target = target,
      sources = sources,
      mergeIntervalMs = getPosInt("merge.interval", 10000),
      batchSize = getPosInt("merge.batch.size", 50000),
      pipelinePoolSize = getPosInt("pipeline.thread_pool.size", 5),
      transformPoolSize = getPosInt("transform.thread_pool.size", 10),
      mergePoolSize = getPosInt("merge.thread_pool.size", 10),
      loaderConnSize = getPosInt("loader.conn_pool.size",
        graft.streaming.CdcPipeline.DefaultLoaders),
      loaderTaskQueueSize = getPosInt("loader.task_queue.size", 2),
      reporter = get("metrics.reporter").getOrElse("console"),
      reportIntervalSec = getPosInt("metrics.reporter.console.interval", 15),
      stateServerAddr = get("state.server.addr").getOrElse("0.0.0.0"),
      stateServerPort = {
        val p = getInt("state.server.port", 8080)
        // 0 stays legal: an ephemeral port, read back from StateServer.port
        if (p < 0 || p > 65535) fail(s"state.server.port must be 0-65535, got $p")
        p
      })
  }

  /** `<configDir>/<source>.properties`: `db.table = schema.table` lines
    * (reference: Config.java:246-272 — both sides must be two-part dotted
    * names; a missing file is a startup error).
    */
  private def loadTableMap(configFile: File, source: String): Map[String, String] = {
    val mapFile = new File(configFile.getParentFile, s"$source.properties")
    if (!mapFile.isFile)
      throw new IllegalArgumentException(
        s"table map file not found for data source $source: $mapFile")
    val props = loadProps(mapFile)
    import scala.jdk.CollectionConverters._
    props.stringPropertyNames().asScala.toSeq.sorted.map { origin =>
      val mapped = props.getProperty(origin).trim
      if (origin.split("\\.").length != 2 || mapped.split("\\.").length != 2)
        throw new IllegalArgumentException(
          s"$mapFile: wrong format: $origin, $mapped (need db.table = schema.table)")
      origin -> mapped
    }.toMap
  }

  private def loadProps(f: File): Properties = {
    val props = new Properties()
    val in = new InputStreamReader(new FileInputStream(f), "UTF-8")
    try props.load(in) finally in.close()
    props
  }
}

/** Boots pipelines from a parsed [[GraftConfig]] — the reference's
  * `Bireme.main` startup sequence (Bireme.java:188-218) re-expressed as
  * Structured Streaming wiring.
  */
object GraftBoot {

  /** Probe the TARGET database for each mapped table's schema + primary key,
    * exactly like the reference's startup (§1.4; fail-fast when a mapped
    * table is missing or has no PK). The config's credentials ride along.
    */
  def registryFor(
      cfg: GraftConfig,
      source: SourceConfig,
      ident: String => String =
        _.replace('.', '_').toUpperCase(java.util.Locale.ROOT)): TableRegistry =
    TableRegistry.fromJdbc(cfg.target.url, source.tableMap, ident,
      cfg.target.user, cfg.target.passwd)

  /** One [[graft.sources.JdbcTableStore]] per mapped target on the config's
    * target warehouse, credentials threaded — the store side of the
    * reference's loader pool (Bireme.java:105-135 creates one ChangeLoader
    * per mapped table). `merge.batch.size` doubles as the JDBC insert batch
    * size cap (bounded at 10k — a COPY-path target ignores it).
    */
  def storesFor(
      spark: SparkSession,
      cfg: GraftConfig,
      registry: TableRegistry): Map[String, TableStore] =
    registry.targets.map(t => t -> (new graft.sources.JdbcTableStore(
      spark, cfg.target.url, registry.specFor(t),
      insertBatchSize = math.min(cfg.batchSize, 10000),
      user = cfg.target.user, passwd = cfg.target.passwd): TableStore)).toMap

  /** Start one source's stream: the configured Kafka connection, or — when
    * `<name>.replay.dir` is set — the file-replay twin over archived Maxwell
    * JSON (offline-testable, and the disaster-recovery path). Either way
    * `loader.conn_pool.size` caps the tables a batch merges at once, and
    * `driftMetrics` (the source's listener) counts the data keys no mapped
    * spec covers. Kafka needs the spark-sql-kafka connector and a reachable
    * broker — see the Kafka verification boundary note in SURVEY.md §8.
    */
  def startSource(
      spark: SparkSession,
      cfg: GraftConfig,
      source: SourceConfig,
      registry: TableRegistry,
      stores: Map[String, TableStore],
      checkpointDir: String,
      driftMetrics: Option[PipelineMetrics] = None): StreamingQuery = source.replayDir match {
    case Some(dir) =>
      graft.streaming.CdcPipeline.fileMaxwellStream(
        spark, dir, registry, stores, checkpointDir, cfg.trigger,
        driftMetrics = driftMetrics, loaders = cfg.loaderConnSize)
    case None =>
      startKafka(spark, cfg, source, registry, stores, checkpointDir, driftMetrics)
  }

  /** Start the configured Kafka stream for one source (the deployment path;
    * requires the spark-sql-kafka connector and a reachable broker — see the
    * Kafka verification boundary note in SURVEY.md §8). `merge.interval`
    * becomes the micro-batch trigger, `merge.batch.size` the
    * `maxOffsetsPerTrigger` cap, `loader.conn_pool.size` the loader cap;
    * `driftMetrics` counts schema drift as in [[startSource]].
    */
  def startKafka(
      spark: SparkSession,
      cfg: GraftConfig,
      source: SourceConfig,
      registry: TableRegistry,
      stores: Map[String, TableStore],
      checkpointDir: String,
      driftMetrics: Option[PipelineMetrics] = None): StreamingQuery = source.tpe match {
    case SourceType.Maxwell =>
      graft.streaming.CdcPipeline.kafkaMaxwellStream(
        spark, source.kafkaServer, source.topic, registry, stores,
        checkpointDir, cfg.trigger, cfg.batchSize.toLong,
        driftMetrics = driftMetrics, loaders = cfg.loaderConnSize)
    case SourceType.Debezium =>
      graft.streaming.CdcPipeline.kafkaDebeziumStream(
        spark, source.kafkaServer, s"${java.util.regex.Pattern.quote(source.topic)}\\..+",
        registry, stores, checkpointDir, cfg.trigger, cfg.batchSize.toLong,
        // the exact namespace, so a dotted topic.prefix still routes (the
        // parser's default first-segment strip would mis-key every event)
        namespace = Some(source.topic), driftMetrics = driftMetrics,
        loaders = cfg.loaderConnSize)
  }
}
