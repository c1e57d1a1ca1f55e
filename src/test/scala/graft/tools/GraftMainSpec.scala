package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.config.GraftConfig

/** Boots the production entry point end-to-end from a properties fixture:
  * config → target-DDL probe → per-table JDBC stores (config credentials) →
  * supervised replay stream → state endpoint → orderly stop. This is the
  * whole `Bireme.main` lifecycle minus only the broker socket (the replay
  * source stands in — same parse/compact/merge body).
  */
class GraftMainSpec extends SparkTestBase {

  test("boot runs the full lifecycle: replay source → JDBC target → state endpoint → stop") {
    val dir = tmpDir("gmain")
    val in = tmpDir("gmain-in")
    val dbUrl = s"jdbc:derby:memory:gmain${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(dbUrl)
    try conn.createStatement().execute(
      "CREATE TABLE PUBLIC_TEST (id INTEGER NOT NULL, name VARCHAR(100), PRIMARY KEY (id))")
    finally conn.close()

    Files.write(Paths.get(dir, "config.properties"),
      s"""target.url = $dbUrl
         |data_source = maxwell1
         |maxwell1.type = maxwell
         |maxwell1.replay.dir = $in
         |merge.interval = 1000
         |metrics.reporter = none
         |state.server.port = 0
         |state.server.addr = 127.0.0.1
         |""".stripMargin.getBytes("UTF-8"))
    Files.write(Paths.get(dir, "maxwell1.properties"),
      "demo.test = public.test\n".getBytes("UTF-8"))

    Files.write(Paths.get(in, "b0.json"), Seq(
      """{"database":"demo","table":"test","type":"insert","ts":1,"data":{"id":1,"name":"a"}}""",
      """{"database":"demo","table":"test","type":"insert","ts":2,"data":{"id":2,"name":"b"}}""",
      // `extra` is no column of the target: the source's listener counts it
      """{"database":"demo","table":"test","type":"update","ts":3,"data":{"id":1,"name":"a2","extra":"x"},"old":{"name":"a"}}""")
      .mkString("\n").getBytes("UTF-8"))

    val cfg = GraftConfig.load(Paths.get(dir, "config.properties").toString)
    // a replay source needs no kafka coordinates
    assert(cfg.sources.head.replayDir.contains(in))

    val running = GraftMain.boot(spark, cfg, tmpDir("gmain-work"))
    try {
      running.sources("maxwell1").processAllAvailable()

      // the JDBC target holds the merged state
      val c2 = java.sql.DriverManager.getConnection(dbUrl)
      val rows = try {
        val rs = c2.createStatement().executeQuery(
          "SELECT id, name FROM PUBLIC_TEST ORDER BY id")
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
        while (rs.next()) buf += rs.getInt(1) -> rs.getString(2)
        buf.toList
      } finally c2.close()
      assert(rows == List(1 -> "a2", 2 -> "b"))

      // the per-source state route serves this source's pipeline JSON
      val url = new java.net.URI(
        s"http://127.0.0.1:${running.stateServer.port}/maxwell1").toURL
      val body = {
        val is = url.openStream()
        try new String(is.readAllBytes(), "UTF-8") finally is.close()
      }
      assert(body.contains("\"source_name\": \"maxwell1\""))
      assert(body.contains("\"state\": \"NORMAL\""))
      assert(body.contains(
        """"schema_drift": [{"table": "public.test", "column": "extra", "rows": 1}]"""), body)
    } finally running.stop()
    assert(running.sources("maxwell1").state == "STOPPED")
    // stop() deregistered the listener — repeated boot/stop must not
    // accumulate listeners on the shared session
    assert(!spark.streams.listListeners().contains(running.metrics("maxwell1")))
  }

  test("multi-source boot keeps each source's metrics and state route isolated") {
    val dir = tmpDir("gmain2")
    val inA = tmpDir("gmain2-a")
    val inB = tmpDir("gmain2-b")
    val dbUrl = s"jdbc:derby:memory:gmain2${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(dbUrl)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE PUBLIC_TA (id INTEGER NOT NULL, v VARCHAR(50), PRIMARY KEY (id))")
      st.execute("CREATE TABLE PUBLIC_TB (id INTEGER NOT NULL, v VARCHAR(50), PRIMARY KEY (id))")
    } finally conn.close()

    Files.write(Paths.get(dir, "config.properties"),
      s"""target.url = $dbUrl
         |data_source = srca, srcb
         |srca.type = maxwell
         |srca.replay.dir = $inA
         |srcb.type = maxwell
         |srcb.replay.dir = $inB
         |merge.interval = 1000
         |metrics.reporter = none
         |state.server.port = 0
         |state.server.addr = 127.0.0.1
         |""".stripMargin.getBytes("UTF-8"))
    Files.write(Paths.get(dir, "srca.properties"), "da.ta = public.ta\n".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "srcb.properties"), "db.tb = public.tb\n".getBytes("UTF-8"))
    Files.write(Paths.get(inA, "a.json"),
      """{"database":"da","table":"ta","type":"insert","ts":1,"data":{"id":1,"v":"a"}}"""
        .getBytes("UTF-8"))
    Files.write(Paths.get(inB, "b.json"),
      """{"database":"db","table":"tb","type":"insert","ts":1,"data":{"id":2,"v":"b"}}"""
        .getBytes("UTF-8"))

    val cfg = GraftConfig.load(Paths.get(dir, "config.properties").toString)
    val running = GraftMain.boot(spark, cfg, tmpDir("gmain2-work"))
    try {
      running.sources("srca").processAllAvailable()
      running.sources("srcb").processAllAvailable()
      def route(name: String): String = {
        val is = new java.net.URI(
          s"http://127.0.0.1:${running.stateServer.port}/$name").toURL.openStream()
        try new String(is.readAllBytes(), "UTF-8") finally is.close()
      }
      val a = route("srca")
      val b = route("srcb")
      // each per-source listener records ONLY its own query: one pipeline
      // per route, not the session's two (listener registration is global —
      // without track() both routes would list both pipelines)
      assert(a.contains("\"source_name\": \"srca\""))
      assert(b.contains("\"source_name\": \"srcb\""))
      assert(running.metrics("srca").pipelines.size == 1,
        s"srca must see one pipeline, saw ${running.metrics("srca").pipelines}")
      assert(running.metrics("srcb").pipelines.size == 1)
    } finally running.stop()
    // after a clean stop, the supervision-aware wait returns immediately
    running.awaitAllTerminal()
  }
}
