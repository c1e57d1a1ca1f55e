package graft.config

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.sources.ParquetTableStore
import graft.streaming.CdcPipeline

/** The reference boots entirely from `etc/config.properties` plus one
  * `<source>.properties` table map per data source (Config.java:79-272,
  * README.md:99-105); this spec pins the same keys, defaults and fail-fast
  * errors, and boots a file-stream pipeline end-to-end from a fixture with
  * the target-database metadata probe (`fromJdbc`) supplying the schemas.
  */
class GraftConfigSpec extends SparkTestBase {

  private def writeFixture(
      dir: String,
      config: String,
      tableMaps: Map[String, String] = Map.empty): String = {
    val cfg = Paths.get(dir, "config.properties")
    Files.write(cfg, config.getBytes("UTF-8"))
    tableMaps.foreach { case (name, body) =>
      Files.write(Paths.get(dir, s"$name.properties"), body.getBytes("UTF-8"))
    }
    cfg.toString
  }

  private val fullConfig =
    """# target database where the data will sync into.
      |target.url = jdbc:derby:memory:cfg;create=true
      |target.user = app
      |target.passwd = secret
      |
      |data_source = maxwell1, debezium1
      |
      |maxwell1.type = maxwell
      |maxwell1.kafka.server = 127.0.0.1:9092
      |maxwell1.kafka.topic = topic_name1
      |maxwell1.kafka.groupid = graft
      |
      |debezium1.type = debezium
      |debezium1.kafka.server = 127.0.0.1:9093
      |debezium1.namespace = ns1
      |
      |merge.interval = 5000
      |merge.batch.size = 12345
      |pipeline.thread_pool.size = 7
      |metrics.reporter = console
      |state.server.port = 9090
      |""".stripMargin

  test("parses the reference's config.properties schema: sources, knobs, defaults") {
    val dir = tmpDir("cfg")
    val path = writeFixture(dir, fullConfig, Map(
      "maxwell1" -> "demo.table1 = public.table1\ndemo.table2 = public.table2\n",
      "debezium1" -> "# comment lines are ignored\nsch.t = public.t\n"))
    val cfg = GraftConfig.load(path)

    assert(cfg.target == ConnectionConfig(
      "jdbc:derby:memory:cfg;create=true", Some("app"), Some("secret")))
    assert(cfg.sources.map(_.name) == Seq("maxwell1", "debezium1"))

    val mx = cfg.sources.head
    assert(mx.tpe == SourceType.Maxwell && mx.kafkaServer == "127.0.0.1:9092" &&
      mx.topic == "topic_name1" && mx.groupId == "graft")
    assert(mx.tableMap == Map("demo.table1" -> "public.table1", "demo.table2" -> "public.table2"))

    val dbz = cfg.sources(1)
    assert(dbz.tpe == SourceType.Debezium && dbz.topic == "ns1" &&
      dbz.groupId == "bireme", "debezium topic = namespace; groupid defaults to bireme")
    assert(dbz.tableMap == Map("sch.t" -> "public.t"))

    // overridden knobs + reference defaults for the rest (Config.java:89-107)
    assert(cfg.mergeIntervalMs == 5000 && cfg.batchSize == 12345 && cfg.pipelinePoolSize == 7)
    assert(cfg.transformPoolSize == 10 && cfg.mergePoolSize == 10 &&
      cfg.loaderConnSize == 10 && cfg.loaderTaskQueueSize == 2)
    assert(cfg.reporter == "console" && cfg.stateServerAddr == "0.0.0.0" &&
      cfg.stateServerPort == 9090)

    assert(cfg.globalTableMap("maxwell1.demo.table1") == "public.table1",
      "the reference's dispatch map prefixes the source name (Config.java:262-268)")
  }

  test("fails fast on each of the reference's startup error conditions") {
    def loadOf(config: String, maps: Map[String, String] = Map.empty) = {
      val d = tmpDir("cfgerr")
      intercept[IllegalArgumentException](GraftConfig.load(writeFixture(d, config, maps)))
    }
    // missing target.url (Config.java:127-130)
    assert(loadOf("data_source = s1\ns1.type = maxwell\n")
      .getMessage.contains("target.url"))
    // no data source (Config.java:135-139)
    assert(loadOf("target.url = jdbc:x\n").getMessage.contains("data source"))
    // missing type (Config.java:158-163)
    assert(loadOf("target.url = jdbc:x\ndata_source = s1\n")
      .getMessage.contains("type of s1"))
    // unrecognized type (Config.java:174-177)
    assert(loadOf("target.url = jdbc:x\ndata_source = s1\ns1.type = canal\n")
      .getMessage.contains("unrecognized type"))
    // maxwell without topic (Config.java:236-239)
    assert(loadOf("target.url = jdbc:x\ndata_source = s1\ns1.type = maxwell\ns1.kafka.server = h:9092\n")
      .getMessage.contains("topic"))
    // debezium without namespace (Config.java:196-200)
    assert(loadOf("target.url = jdbc:x\ndata_source = s1\ns1.type = debezium\ns1.kafka.server = h:9092\n")
      .getMessage.contains("namespace"))
    // missing table-map file (Config.java:246-250)
    assert(loadOf("target.url = jdbc:x\ndata_source = s1\ns1.type = maxwell\n" +
      "s1.kafka.server = h:9092\ns1.kafka.topic = t\n")
      .getMessage.contains("table map file not found"))
    // malformed table-map entry (Config.java:258-261)
    assert(loadOf("target.url = jdbc:x\ndata_source = s1\ns1.type = maxwell\n" +
      "s1.kafka.server = h:9092\ns1.kafka.topic = t\n",
      Map("s1" -> "not_dotted = public.t\n"))
      .getMessage.contains("wrong format"))
  }

  test("fails fast on out-of-range numeric knobs instead of erroring deep in Spark") {
    val base = "target.url = jdbc:x\ndata_source = s1\ns1.type = maxwell\n" +
      "s1.kafka.server = h:9092\ns1.kafka.topic = t\n"
    val maps = Map("s1" -> "demo.t = public.t\n")
    def loadOf(extra: String) = {
      val d = tmpDir("cfgrange")
      intercept[IllegalArgumentException](
        GraftConfig.load(writeFixture(d, base + extra, maps)))
    }
    // a negative trigger interval would otherwise only throw at stream start
    assert(loadOf("merge.interval = -5\n").getMessage.contains("merge.interval"))
    // a negative cap would flow into maxOffsetsPerTrigger and misbehave there
    assert(loadOf("merge.batch.size = 0\n").getMessage.contains("merge.batch.size"))
    assert(loadOf("metrics.reporter.console.interval = -1\n")
      .getMessage.contains("metrics.reporter.console.interval"))
    assert(loadOf("state.server.port = 70000\n").getMessage.contains("state.server.port"))
    // port 0 stays legal — ephemeral bind, read back from StateServer.port
    val d = tmpDir("cfgrange0")
    assert(GraftConfig.load(writeFixture(d, base + "state.server.port = 0\n", maps))
      .stateServerPort == 0)
  }

  test("boots a file-stream pipeline from a .properties fixture, schemas probed from the target (§1.4)") {
    val dir = tmpDir("cfgboot")
    val dbUrl = s"jdbc:derby:memory:cfgboot${System.nanoTime()};create=true"
    val path = writeFixture(dir,
      s"""target.url = $dbUrl
         |data_source = maxwell1
         |maxwell1.type = maxwell
         |maxwell1.kafka.server = 127.0.0.1:9092
         |maxwell1.kafka.topic = demo_topic
         |merge.interval = 1000
         |""".stripMargin,
      Map("maxwell1" -> "demo.test = public.test\n"))
    // The target database carries the table DDL — the config's table map plus
    // the fromJdbc probe is ALL the schema input, like the reference startup.
    val conn = java.sql.DriverManager.getConnection(dbUrl)
    try conn.createStatement().execute(
      "CREATE TABLE PUBLIC_TEST (id INTEGER NOT NULL, name VARCHAR(100), PRIMARY KEY (id))")
    finally conn.close()

    val cfg = GraftConfig.load(path)
    val source = cfg.sources.head
    val registry = GraftBoot.registryFor(cfg, source)
    assert(registry.specFor("public.test").pkCols == Seq("id"))

    val store = new ParquetTableStore(
      spark, tmpDir("cfgboot-store"), registry.specFor("public.test"), 4)
    val in = tmpDir("cfgboot-in")
    Files.write(Paths.get(in, "b0.json"), Seq(
      """{"database":"demo","table":"test","type":"insert","ts":1,"data":{"id":1,"name":"a"}}""",
      """{"database":"demo","table":"test","type":"insert","ts":2,"data":{"id":2,"name":"b"}}""",
      """{"database":"demo","table":"test","type":"update","ts":3,"data":{"id":1,"name":"a2"},"old":{"name":"a"}}""")
      .mkString("\n").getBytes("UTF-8"))

    // cfg.trigger carries merge.interval (1 s) into the micro-batch trigger.
    val q = CdcPipeline.fileMaxwellStream(
      spark, in, registry, Map("public.test" -> store), tmpDir("cfgboot-ckpt"), cfg.trigger)
    try q.processAllAvailable() finally q.stop()
    assert(store.snapshot().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(1 -> "a2", 2 -> "b"))
  }

  test("loader.conn_pool.size reaches the stream: it caps the tables merged at once") {
    import graft.model.{TableRegistry, TableSpec}
    import org.apache.spark.sql.types._
    val specs = Seq("public.a", "public.b").map { t =>
      t -> TableSpec(t, StructType(Seq(StructField("id", IntegerType))), Seq("id"))
    }.toMap
    val registry = TableRegistry(Map("demo.a" -> "public.a", "demo.b" -> "public.b"), specs)
    // the threads each merge ran on: inline on the stream thread at a cap of
    // 1, on `graft-loader-*` threads above it
    def mergeThreads(poolSize: Int): Set[String] = {
      val dir = tmpDir(s"cfgpool$poolSize")
      val in = tmpDir(s"cfgpool$poolSize-in")
      Files.write(Paths.get(in, "b0.json"), Seq(
        """{"database":"demo","table":"a","type":"insert","ts":1,"data":{"id":1}}""",
        """{"database":"demo","table":"b","type":"insert","ts":1,"data":{"id":2}}""")
        .mkString("\n").getBytes("UTF-8"))
      val cfg = GraftConfig.load(writeFixture(dir,
        s"""target.url = jdbc:derby:memory:unused
           |data_source = maxwell1
           |maxwell1.type = maxwell
           |maxwell1.replay.dir = $in
           |merge.interval = 1000
           |loader.conn_pool.size = $poolSize
           |""".stripMargin,
        Map("maxwell1" -> "demo.a = public.a\ndemo.b = public.b\n")))
      assert(cfg.loaderConnSize == poolSize)
      val threads = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val stores = specs.map { case (t, sp) =>
        val under = new ParquetTableStore(spark, tmpDir(s"cfgpool$poolSize-$t"), sp, 2)
        t -> (new graft.sources.TableStore {
          def spec = under.spec
          def snapshot() = under.snapshot()
          def merge(b: graft.operators.CompactedBatch): Unit = {
            threads.add(Thread.currentThread.getName); under.merge(b)
          }
        }: graft.sources.TableStore)
      }
      val q = GraftBoot.startSource(spark, cfg, cfg.sources.head, registry, stores,
        tmpDir(s"cfgpool$poolSize-ckpt"))
      try q.processAllAvailable() finally q.stop()
      assert(stores.values.map(_.snapshot().count()).sum == 2L)
      import scala.jdk.CollectionConverters._
      threads.asScala.toSet
    }
    val inline = mergeThreads(1)
    assert(inline.size == 1 && !inline.head.startsWith("graft-loader"), inline)
    val pooled = mergeThreads(2)
    assert(pooled.nonEmpty && pooled.forall(_.startsWith("graft-loader")), pooled)
  }
}
